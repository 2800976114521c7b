"""Scale stress: run the load-bearing operators at 30–300× the driver's
sf0.1 volume and record throughput — the empirical backing for the
100 TB design notes in SCALE.md.

Generates synthetic inputs with the distributed generator (no testdata
mutation), materializes via the no-op sink, prints one JSON line per op.
With ``SPARK_GRAFT_UI=true`` each line also carries the op's shuffle
write/read bytes (diffed from the UI REST API's completed-stage totals) —
the number that decides whether a plan survives 1000 executors.

    SPARK_GRAFT_UI=true python tools/scalecheck.py \
        [--events 20000000] [--docs 200000] [--vecs 200000] [--ops substr,substr]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.extractors import ApproxUserEventExtractor, UserEventExtractor
from ml_feature_store_pipeline_spark.generator import generate_events
from ml_feature_store_pipeline_spark.operators import dedup, joins, sampling, similarity, text, windows
from ml_feature_store_pipeline_spark.operators.pit import FeatureView, training_set
from ml_feature_store_pipeline_spark.session import get_spark

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch window spark "
    "order data column join small line customer query big vector stream group sort filter the a"
).split()

ONLY: list[str] = []  # --ops substrings; empty = run everything


def want(op: str) -> bool:
    # symmetric containment: a gate may be coarser than the documented op
    # names it guards (e.g. gate "semantic_dedup_auto" emits rows named
    # semantic_dedup_auto_0.1x/_1x) — "--ops semantic_dedup_auto_1x",
    # copied verbatim from the output, must still select that gate
    return not ONLY or any(s in op or op in s for s in ONLY)


class ShuffleMeter:
    """Per-op shuffle-volume deltas from the UI REST API (public monitoring
    surface, /api/v1/applications/{app}/stages). Inactive when the UI is
    off — every method degrades to None."""

    def __init__(self, spark) -> None:
        self._url = spark.sparkContext.uiWebUrl
        self._app = spark.sparkContext.applicationId
        self._last = self._totals()

    def _totals(self) -> tuple[int, int] | None:
        if not self._url:
            return None
        try:
            with urllib.request.urlopen(
                f"{self._url}/api/v1/applications/{self._app}/stages?status=complete", timeout=10
            ) as resp:
                stages = json.load(resp)
            return (
                sum(s.get("shuffleWriteBytes", 0) for s in stages),
                sum(s.get("shuffleReadBytes", 0) for s in stages),
            )
        except Exception:
            return None

    def delta(self) -> tuple[int, int] | None:
        cur = self._totals()
        prev, self._last = self._last, cur
        if cur is None or prev is None:
            return None
        return (cur[0] - prev[0], cur[1] - prev[1])


METER: ShuffleMeter | None = None


def log(op: str, seconds: float, rows: int) -> None:
    rec = {
        "op": op,
        "sec": round(seconds, 2),
        "rows": rows,
        "rows_per_sec": int(rows / max(seconds, 1e-9)),
    }
    d = METER.delta() if METER is not None else None
    if d is not None:
        rec["shuffle_write_mb"] = round(d[0] / 1e6, 1)
        rec["shuffle_read_mb"] = round(d[1] / 1e6, 1)
    print(json.dumps(rec), flush=True)


def timed(op: str, df, rows: int) -> None:
    if not want(op):
        return
    if METER is not None:
        METER.delta()  # reset baseline to exclude plan-construction jobs
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    log(op, time.time() - t0, rows)


def synth_docs(spark, n: int, tokens_per_doc: int = 60):
    """Bag-of-words docs like the driver's documents table, any size."""
    words = F.array(*[F.lit(w) for w in VOCAB])
    tok = F.transform(
        F.sequence(F.lit(1), F.lit(tokens_per_doc)),
        lambda i: F.element_at(
            words,
            ((F.xxhash64(F.col("id"), i) % len(VOCAB) + len(VOCAB)) % len(VOCAB) + 1).cast("int"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", tok).alias("text")
    )


def synth_vecs(spark, n: int, dim: int = 64):
    # hash-derived uniforms: per-(row, dim) independent, deterministic
    arr = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.xxhash64(F.col("id"), i) % 10000).cast("double") / 5000.0 - 1.0,
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), arr.cast("array<float>").alias("embedding"))


def synth_clustered_vecs(spark, n: int, dim: int = 64, n_clusters: int = 64, noise: float = 0.25):
    """64-cluster corpus — the shape real embedding spaces have (vs the
    isotropic synth_vecs worst case). Shared by ann_autoscale and
    ivf_fit_dial so both measure the same geometry."""
    cid = F.col("id") % n_clusters
    cent = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.xxhash64(cid, i) % 10000).cast("double") / 5000.0 - 1.0,
    )
    nz = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.xxhash64(F.col("id"), i, F.lit(77)) % 10000).cast("double")
        / 5000.0
        - 1.0,
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.zip_with(cent, nz, lambda c, z: c + F.lit(noise) * z)
        .cast("array<float>")
        .alias("embedding"),
    )


EVENT_OPS = (
    "flagship_extract_exact flagship_extract_approx sessionize asof_join "
    "deterministic_sample_10pct training_set_1view asof_join_bucketed_1key "
    "interval_join_2k_bands bloom_probe cdc_merge fe_quantile_bin "
    "fe_target_encode fe_hashed_cross negative_sample table_profile "
    "quality_profile fe_ewma fe_index_encode funnel trend_slope "
    "cohort_retention type_affinity rfm attribution interarrival "
    "k_anonymity resample_ffill session_stats session_window trigram_paths "
    "user_entropy benford ohlc weighted_quantile kmv_overlap l_diversity "
    "copurchase transition_matrix gini_skew mutual_info hll_actives "
    "daily_percentiles seasonality anomaly_profile welch_ttest "
    "ref_integrity conversion_latency ks_drift ab_srm mad_outliers pagerank "
    "pagerank_copart triangles triangles_20m temporal_split "
    "corr_matrix spearman mann_whitney daily_acf quantile_transform "
    "woe_iv chi2 survival bootstrap cuped did_estimate seasonal "
    "trimmed_mean value_gini cusum holt_forecast t_closeness adamic_adar item_item_cosine best_split layout_pruning isotonic forecast_backtest stl_anomaly"
).split()
DOC_OPS = (
    "minhash_lsh_pairs simhash simhash_near_pairs exact_dedup_digest "
    "chunk_documents ngram_jaccard_capped near_dup_pipeline boilerplate_lsh "
    "boilerplate_ngram pack_sequences incremental_lsh audio_decode "
    "video_frame_sample streaming_near_dup lm_score decontaminate phash "
    "afp vhash audio_fingerprint video_fingerprint ngram_jaccard_dense_posting_cap64 "
    "quality_classifier training_shards mixture_epochs priority_survivors "
    "gopher_rules vocab_coverage dsir_select budget_select chunk_dedup "
    "bpe_stats bpe_pairs bpe_train bpe_encode sketch_calibrate bm25 tfidf_doc_topk "
    "substr_decontaminate readability rake unigram_kl kl_mixture"
).split()
VEC_OPS = (
    "cosine_topk_100q cosine_topk_blas_cold cosine_topk_blas_warm "
    "semantic_dedup semantic_dedup_auto_0.1x semantic_dedup_auto_1x quantization "
    "semantic_decontaminate knn_label_audit hard_negatives prototypicality "
    "random_projection mmr_rerank pq_rerank kmeans rerank_eval dim_correlation pca_power "
    "ann_autoscale ivf_fit_dial"
).split()


def main() -> None:
    global ONLY, METER
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=20_000_000)
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--vecs", type=int, default=200_000)
    ap.add_argument("--ops", default="", help="comma-separated substrings; run only matching ops")
    args = ap.parse_args()
    ONLY = [s for s in args.ops.split(",") if s]

    spark = get_spark("scalecheck")
    METER = ShuffleMeter(spark)
    work = tempfile.mkdtemp(prefix="scalecheck_")
    try:
        # ---- materialize inputs to parquet (so scans are realistic) -------
        events = docs = vecs = None
        if any(want(o) for o in EVENT_OPS):
            t0 = time.time()
            generate_events(spark, n_events=args.events, n_users=max(args.events // 200, 1), seed=42).write.mode(
                "overwrite"
            ).parquet(f"{work}/events")
            log("generate_events_parquet", time.time() - t0, args.events)
            events = spark.read.parquet(f"{work}/events")

        if any(want(o) for o in DOC_OPS):
            t0 = time.time()
            synth_docs(spark, args.docs).write.mode("overwrite").parquet(f"{work}/docs")
            log("generate_docs_parquet", time.time() - t0, args.docs)
            docs = spark.read.parquet(f"{work}/docs")

        if any(want(o) for o in VEC_OPS):
            t0 = time.time()
            synth_vecs(spark, args.vecs).write.mode("overwrite").parquet(f"{work}/vecs")
            log("generate_vecs_parquet", time.time() - t0, args.vecs)
            vecs = spark.read.parquet(f"{work}/vecs")

        # ---- the load-bearing operators ----------------------------------
        if events is not None:
            timed("flagship_extract_exact", UserEventExtractor().extract(events), args.events)
            timed("flagship_extract_approx", ApproxUserEventExtractor().extract(events), args.events)
            timed(
                "sessionize",
                windows.sessionize(events, "user_id", "timestamp", 1800),
                args.events,
            )
            # as-of: each event sees the user's latest prior purchase
            purchases = events.filter(F.col("amount") > 0).select(
                "user_id", F.col("timestamp").alias("p_ts"), F.col("amount").alias("p_amount")
            )
            timed(
                "asof_join",
                joins.asof_join(
                    events.select("user_id", "timestamp", "event_type"),
                    purchases,
                    key="user_id",
                    left_ts="timestamp",
                    right_ts="p_ts",
                    value_cols=["p_amount"],
                ),
                args.events,
            )
        if docs is not None:
            timed(
                "minhash_lsh_pairs",
                dedup.lsh_candidate_pairs(docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism),
                args.docs,
            )
            timed("simhash", dedup.simhash(docs, "doc_id", "text"), args.docs)
            timed(
                "simhash_near_pairs",
                dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3),
                args.docs,
            )
            timed(
                "exact_dedup_digest",
                dedup.exact_dedup(docs, ["text"], "doc_id"),
                args.docs,
            )
        if vecs is not None:
            queries = vecs.filter(F.col("vec_id") < 100).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            timed("cosine_topk_100q", similarity.cosine_topk(queries, vecs, k=10), args.vecs * 100)
            # run twice: first pays Python-worker fork + numpy import, second is steady state
            timed("cosine_topk_blas_cold", similarity.cosine_topk_blas(queries, vecs, k=10), args.vecs * 100)
            timed("cosine_topk_blas_warm", similarity.cosine_topk_blas(queries, vecs, k=10), args.vecs * 100)
        if docs is not None:
            timed("chunk_documents", text.chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8), args.docs)
        if events is not None:
            timed(
                "deterministic_sample_10pct",
                sampling.deterministic_sample(events, "user_id", 0.10),
                args.events,
            )
            labels = events.filter(F.col("event_type") == "purchase").select("user_id", "timestamp")
            timed(
                "training_set_1view",
                training_set(
                    labels,
                    {"p": FeatureView(purchases, "p_ts", ["p_amount"])},
                    key="user_id",
                    label_ts="timestamp",
                ),
                args.events,
            )
            # hot-key stress: EVERY row on one key — the plain as-of serializes
            # this into a single window task; the bucketed form splits it
            hot = events.select(
                F.lit(1).alias("user_id"), F.col("timestamp"), F.col("event_type")
            )
            hot_purch = purchases.withColumn("user_id", F.lit(1))
            timed(
                "asof_join_bucketed_1key",
                joins.asof_join_bucketed(
                    hot, hot_purch, key="user_id", left_ts="timestamp", right_ts="p_ts",
                    value_cols=["p_amount"], bucket_seconds=3600,
                ),
                args.events,
            )
        if docs is not None:
            # the adversarial tiny-vocab corpus is quadratic-dense by design:
            # pairs ≈ Σ C(df, 2) grow with corpus² here, so this stress runs
            # at its documented 50 k bound regardless of --docs (the r5
            # rehearsal OOM'd the uncapped 200 k form; the capped variant of
            # that case is measured separately below)
            ngram_docs = docs.filter(F.col("doc_id") < 50_000)
            n_ngram = min(args.docs, 50_000)
            timed(
                "ngram_jaccard_capped",
                dedup.ngram_jaccard_pairs(
                    ngram_docs, "doc_id", "text", threshold=0.3,
                    parallelism=spark.sparkContext.defaultParallelism,
                ),
                n_ngram,
            )
            # the degenerate-density escape hatch at FULL --docs size
            timed(
                "ngram_jaccard_dense_posting_cap64",
                dedup.ngram_jaccard_pairs(
                    docs, "doc_id", "text", threshold=0.3,
                    parallelism=spark.sparkContext.defaultParallelism,
                    max_posting_size=64,
                ),
                args.docs,
            )
        if events is not None:
            tiers = spark.range(2000).select(
                (F.col("id") * 5.0).alias("lo"),
                (F.col("id") * 5.0 + 7.5).alias("hi"),
                F.col("id").alias("tier_id"),
            )
            timed(
                "interval_join_2k_bands",
                joins.interval_join_bucketed(
                    events.select("amount"), tiers, "amount", bucket_width=5.0
                ),
                args.events,
            )

        if docs is not None:
            timed(
                "pack_sequences",
                text.pack_sequences(
                    docs, "doc_id", "text", token_budget=2048,
                    n_groups=spark.sparkContext.defaultParallelism * 8,
                ),
                args.docs,
            )

        # ---- incremental LSH: 1% new batch vs standing corpus -------------
        # corpus signatures are PERSISTED first (the standing index a real
        # pipeline keeps next to the corpus) and excluded from the timing —
        # the measured op is exactly what continuous ingestion pays per
        # batch: sign the new docs, co-bucket against the stored signatures,
        # expand only batch-touched buckets.
        if docs is not None and want("incremental_lsh"):
            from ml_feature_store_pipeline_spark.operators.dedup import minhash_signatures

            par = spark.sparkContext.defaultParallelism
            new = docs.filter(F.col("doc_id") % 100 == 0)
            corp = docs.filter(F.col("doc_id") % 100 != 0)
            minhash_signatures(corp.repartition(par), "doc_id", "text").write.mode(
                "overwrite"
            ).parquet(f"{work}/corp_sigs")
            sigs = spark.read.parquet(f"{work}/corp_sigs")
            timed(
                "incremental_lsh_1pct_batch",
                dedup.lsh_candidate_pairs_incremental(
                    new, corp, "doc_id", "text", corpus_signatures=sigs, parallelism=par
                ),
                args.docs // 100,
            )

        # ---- near-dup END-TO-END: LSH propose → CC cluster → survivors ----
        # 10% of docs are near-copies of their predecessor (same bag of
        # words + one extra token), so the pair graph has real clusters and
        # the CC rounds do real work — the full SURVEY dedup pipeline as one
        # measured unit, not three separate stages.
        if docs is not None and (want("near_dup_pipeline") or want("priority_survivors")):
            par = spark.sparkContext.defaultParallelism
            base = F.when(F.col("id") % 10 == 9, F.col("id") - 1).otherwise(F.col("id"))
            words = F.array(*[F.lit(w) for w in VOCAB])
            tok = F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.element_at(
                    words,
                    ((F.xxhash64(base, i) % len(VOCAB) + len(VOCAB)) % len(VOCAB) + 1).cast("int"),
                ),
            )
            dup_text = F.when(
                F.col("id") % 10 == 9, F.concat_ws(" ", F.concat_ws(" ", tok), F.lit("extra"))
            ).otherwise(F.concat_ws(" ", tok))
            spark.range(args.docs).select(
                F.col("id").alias("doc_id"), dup_text.alias("text")
            ).write.mode("overwrite").parquet(f"{work}/dup_docs")
            ddocs = spark.read.parquet(f"{work}/dup_docs")
            if METER is not None:
                METER.delta()
            t0 = time.time()
            pairs = dedup.lsh_candidate_pairs(ddocs, "doc_id", "text", parallelism=par)
            surv = dedup.dedup_survivors(ddocs, pairs, "doc_id")
            n_surv = surv.count()  # CC runs eagerly inside; count forces the rest
            log("near_dup_pipeline", time.time() - t0, args.docs)
            print(json.dumps({"op": "near_dup_pipeline.survivors", "rows": n_surv}), flush=True)
            if want("priority_survivors"):
                from ml_feature_store_pipeline_spark.functions import token_count as _tc

                if METER is not None:
                    METER.delta()
                t0 = time.time()
                pairs2 = dedup.lsh_candidate_pairs(ddocs, "doc_id", "text", parallelism=par)
                psurv = dedup.dedup_survivors_by_priority(
                    ddocs, pairs2, "doc_id", _tc(F.col("text"))
                )
                n_psurv = psurv.count()
                log("priority_survivors", time.time() - t0, args.docs)
                print(json.dumps({"op": "priority_survivors.survivors", "rows": n_psurv}), flush=True)

        # ---- degenerate boilerplate corpus: the cap's worst case ----------
        # Every doc shares an identical header sentence, so ~10 shingles
        # have document frequency = |corpus|. Uncapped, ONE posting list
        # expands to n²/2 pairs; the DF cut must drop those shingles before
        # any pair expansion, and the LSH bucket cap must bound whatever
        # the header does to the minhash buckets.
        if docs is not None and (want("boilerplate_lsh") or want("boilerplate_ngram")):
            header = F.lit("start of the shared legal boilerplate header sentence every single document carries verbatim")
            boiler = docs.select("doc_id", F.concat_ws(" ", header, F.col("text")).alias("text"))
            boiler.write.mode("overwrite").parquet(f"{work}/boiler_docs")
            bdocs = spark.read.parquet(f"{work}/boiler_docs")
            par = spark.sparkContext.defaultParallelism
            if want("boilerplate_lsh"):
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                n_pairs = dedup.lsh_candidate_pairs(
                    bdocs, "doc_id", "text", max_bucket_size=256, parallelism=par
                ).count()
                log("boilerplate_lsh_pairs", time.time() - t0, args.docs)
                print(json.dumps({"op": "boilerplate_lsh_pairs.count", "rows": n_pairs}), flush=True)
            if want("boilerplate_ngram"):
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                # 50 k bound, like ngram_jaccard_capped: the property under
                # test (the DF cut dropping universal header shingles before
                # any expansion) is corpus-size independent, while the tiny
                # BODY vocabulary goes quadratic with size
                n_pairs = dedup.ngram_jaccard_pairs(
                    bdocs.filter(F.col("doc_id") < 50_000), "doc_id", "text",
                    threshold=0.3, max_doc_frequency=1000, parallelism=par,
                ).count()
                log("boilerplate_ngram_pairs", time.time() - t0, min(args.docs, 50_000))
                print(json.dumps({"op": "boilerplate_ngram_pairs.count", "rows": n_pairs}), flush=True)
        # ---- round-4 additions: bloom-pruned scan, CDC merge, SemDeDup, ----
        # ---- multimodal decode throughput ----------------------------------
        if events is not None and want("bloom_probe"):
            from ml_feature_store_pipeline_spark.operators import sketches

            # membership = the ~1%-of-users dim after a filter; probe = the
            # full fact scan. The probe must show ~zero shuffle (broadcast
            # joins only) — that's the runtime-filter property under test.
            keys = events.select("user_id").filter(F.col("user_id") % 128 == 0).distinct()
            state = sketches.bloom_state(keys, "user_id")
            state.write.mode("overwrite").parquet(f"{work}/bloom")
            st = spark.read.parquet(f"{work}/bloom")
            timed(
                "bloom_probe_full_scan",
                sketches.bloom_probe(events.select("user_id", "amount"), st, "user_id")
                .filter(F.col("bloom_pass")),
                args.events,
            )
        if events is not None and want("cdc_merge"):
            from ml_feature_store_pipeline_spark.operators import cdc

            # 1% change batch against the full event log keyed by event_id:
            # apply must be broadcast-anti + union (target never shuffles)
            # the generator has no id column; derive a near-unique 64-bit key
            target = events.select(
                F.xxhash64("user_id", "timestamp", "event_type", "amount").alias("event_id"),
                "user_id",
                "amount",
            )
            batch = (
                target.filter(F.col("event_id") % 100 == 0)
                .withColumn("amount", F.col("amount") + F.lit(1.0))
                .withColumn("op", F.when(F.col("event_id") % 1000 == 0, F.lit("delete")).otherwise(F.lit("upsert")))
                .withColumn("seq", F.lit(1))
            )
            batch.write.mode("overwrite").parquet(f"{work}/cdc_batch")
            b = spark.read.parquet(f"{work}/cdc_batch")
            timed(
                "cdc_merge_1pct_batch",
                cdc.merge_changes(target, b, ["event_id"], seq_col="seq"),
                args.events,
            )
        # ---- round-5 additions: FE trio, negative sampling, profiles ------
        if events is not None and want("fe_quantile_bin"):
            from ml_feature_store_pipeline_spark.operators import fe

            # one array-percentile aggregate chooses the cuts; assignment
            # must be a broadcast of the 1-row bounds (no ntile sort of the
            # fact table — shuffle W should be ~the aggregate's partials)
            timed(
                "fe_quantile_bin_exact",
                fe.quantile_bin(events.select("amount"), "amount", n_bins=16),
                args.events,
            )
            timed(
                "fe_quantile_bin_approx",
                fe.quantile_bin(events.select("amount"), "amount", n_bins=16, approximate=True),
                args.events,
            )
        if events is not None and want("fe_target_encode"):
            from ml_feature_store_pipeline_spark.operators import fe

            # ONE shuffle: the per-category aggregate; global prior rides a
            # broadcast. Shuffle bytes ≈ |categories| × partials.
            timed(
                "fe_target_encode",
                fe.target_encode(
                    events.select("user_id", (F.col("amount") > 0).cast("double").alias("y")),
                    "user_id",
                    "y",
                ),
                args.events,
            )
        if events is not None and want("fe_hashed_cross"):
            from ml_feature_store_pipeline_spark.operators import fe

            # pure Column expr — zero shuffle; throughput = codegen md5 rate
            timed(
                "fe_hashed_cross_2cols",
                events.select(
                    fe.hashed_cross([F.col("user_id"), F.col("event_type")], dim=1 << 20).alias("x")
                ),
                args.events,
            )
        if events is not None and want("negative_sample"):
            # positives = the purchase pairs; catalog = distinct event types
            # crossed to a synthetic 100k-item dim. Shuffle must carry only
            # (user, item) ids — O(k × positives) — never the fact table.
            items = spark.range(100_000).select(F.col("id").alias("item_id"))
            positives = (
                events.filter(F.col("amount") > 0)
                .select("user_id", (F.xxhash64("user_id", "timestamp") % 100_000).alias("item_id"))
            )
            positives.write.mode("overwrite").parquet(f"{work}/pos")
            pos = spark.read.parquet(f"{work}/pos")
            n_pos = pos.count()
            timed(
                "negative_sample_k4",
                sampling.negative_sample(pos, items, user_col="user_id", item_col="item_id", k=4),
                n_pos * 4,
            )
        if events is not None and want("fe_ewma"):
            from ml_feature_store_pipeline_spark.operators import fe

            # one key-partitioned window (~100k keys at 20M rows): the
            # rescaled-cumsum EWMA costs the same shuffle as any per-key
            # window — no O(n²) self-join ever materializes
            timed(
                "fe_ewma_prior",
                fe.ewma_prior(
                    events.select("user_id", "timestamp", "amount",
                                  F.xxhash64("user_id", "timestamp").alias("eid")),
                    "user_id", "timestamp", "amount",
                    half_life_seconds=86_400.0, tie_col="eid",
                ),
                args.events,
            )
        if events is not None and want("fe_index_encode"):
            from ml_feature_store_pipeline_spark.operators import fe

            # ~1%-of-rows vocabulary: the index is the two-level rank (no
            # single-task window), the encode join a broadcast
            _, enc = fe.index_encode(events.select("user_id", "amount"), "user_id")
            timed("fe_index_encode_100k_vocab", enc, args.events)
        if docs is not None and want("phash"):
            from ml_feature_store_pipeline_spark.operators import multimodal

            keyed = docs.select(
                "doc_id", F.concat(F.lit("img"), F.col("doc_id") % 5000).alias("imgkey")
            )
            multimodal.attach_fake_payload(keyed, "doc_id", "imgkey", width=32, height=32).write.mode(
                "overwrite"
            ).parquet(f"{work}/phash_imgs")
            imgs = spark.read.parquet(f"{work}/phash_imgs")
            timed("image_phash_32x32", multimodal.phash_images(imgs, "doc_id"), args.docs)
        if docs is not None and want("afp"):
            from ml_feature_store_pipeline_spark.operators import multimodal

            keyed = docs.select(
                "doc_id", F.concat(F.lit("aud"), F.col("doc_id") % 5000).alias("audkey")
            )
            multimodal.attach_fake_audio(keyed, "doc_id", "audkey").write.mode(
                "overwrite"
            ).parquet(f"{work}/afp_wavs")
            wavs = spark.read.parquet(f"{work}/afp_wavs")
            timed("audio_fingerprint", multimodal.afp_audio(wavs, "doc_id"), args.docs)
        if docs is not None and want("vhash"):
            from ml_feature_store_pipeline_spark.operators import multimodal

            keyed = docs.select(
                "doc_id", F.concat(F.lit("vid"), F.col("doc_id") % 5000).alias("vidkey")
            )
            multimodal.attach_fake_video(keyed, "doc_id", "vidkey", n_frames=6).write.mode(
                "overwrite"
            ).parquet(f"{work}/vhash_vids")
            vids = spark.read.parquet(f"{work}/vhash_vids")
            timed(
                "video_fingerprint_every2",
                multimodal.vhash_video(vids, "doc_id", every_k=2),
                args.docs,
            )
        if docs is not None and want("decontaminate"):
            # 1% of docs play the benchmark; the broadcast side is their
            # distinct 8-gram table, the train side never shuffles grams
            ev = docs.filter(F.col("doc_id") % 100 == 0)
            tr = docs.filter(F.col("doc_id") % 100 != 0)
            timed(
                "decontaminate_8gram",
                dedup.ngram_overlap_pairs(tr, ev, "doc_id", "text", n=8),
                args.docs,
            )
        if docs is not None and want("lm_score"):
            from ml_feature_store_pipeline_spark.operators import text as t_ops

            model = t_ops.char_ngram_model(docs, "text")
            timed(
                "lm_score_trigram",
                t_ops.lm_score(docs, model, "doc_id", "text"),
                args.docs,
            )
        if docs is not None and want("quality_classifier"):
            # r7 GPT-3-style LR quality filter: bounded LBFGS passes over
            # hashed TF-IDF; the scale question is cost per pass, answered
            # by rows/sec on a full train+score+keep cycle
            from pyspark.sql import functions as _F

            from ml_feature_store_pipeline_spark.functions import tokens as _tks
            from ml_feature_store_pipeline_spark.operators import mlfeatures as _mlf

            labeled = docs.withColumn(
                "is_q", _F.array_contains(_tks(_F.lower(_F.col("text"))), "doc")
            )
            # manual timing: the IDF and LBFGS fits run EAGERLY when the
            # plan is built, so timed()'s materialize-only clock would
            # exclude the training cost entirely
            t0 = time.time()
            _mlf.pareto_quality_keep(
                _mlf.quality_classifier_scores(labeled, "doc_id", "text", "is_q"),
                "doc_id",
            ).write.format("noop").mode("overwrite").save()
            log("quality_classifier_train_score_keep", time.time() - t0, args.docs)
        if docs is not None and want("training_shards"):
            from ml_feature_store_pipeline_spark.operators import layout as _lay

            out = f"{work}/train_shards"
            t0 = time.time()
            _lay.write_training_shards(docs, out, "doc_id", n_shards=64)
            log("training_shards_write64", time.time() - t0, args.docs)
        if docs is not None and want("mixture_epochs"):
            # absolute-budget mixture at 2x the corpus: every source fans
            # out via explode; the only exchange is the |sources|-row plan
            # aggregate — expansion itself must read as ~0 MB shuffled
            from ml_feature_store_pipeline_spark.functions import token_count as _tc
            from ml_feature_store_pipeline_spark.operators import sampling as _smp

            mdocs = docs.withColumn(
                "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
            )
            nt = _tc(F.col("text"))
            totals = {
                r["__src"]: r["__t"] or 0
                for r in mdocs.groupBy(F.col("source").alias("__src"))
                .agg(F.sum(nt).alias("__t"))
                .collect()
            }
            weights = {src: int(src.removeprefix("src")) + 1 for src in totals}
            targets = _smp.proportional_targets(totals, weights, 2 * sum(totals.values()))
            timed(
                "mixture_epochs_2x",
                _smp.mixture_sample_epochs(mdocs, "doc_id", "source", targets, n_tokens=nt),
                args.docs,
            )
        if vecs is not None and want("semantic_decontaminate"):
            # broadcast eval (2% slice) vs full corpus: zero-shuffle scan
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            ev = vecs.filter((F.col("vec_id") % 50) == 0)
            tr = vecs.filter((F.col("vec_id") % 50) != 0)
            # BLAS form: the codegen oracle form is |eval|*dim interpreted
            # ops per train row — fine for the driver's tens of eval
            # vectors, quadratically painful at benchmark-scale eval
            timed(
                "semantic_decontaminate_blas_2pct_eval",
                _sim.semantic_decontaminate_blas(tr, ev, threshold=0.98),
                args.vecs,
            )
        if events is not None and want("table_profile"):
            from ml_feature_store_pipeline_spark.operators import profile as tprof

            timed("table_profile_exact", tprof.table_profile(events), args.events)
            timed(
                "table_profile_approx",
                tprof.table_profile(events, approximate=True),
                args.events,
            )
        if events is not None and want("quality_profile"):
            from ml_feature_store_pipeline_spark import quality

            # exact = two plain aggregates (bounds, then violation sums),
            # approx = ONE scan (grid CDF outliers). Timed via profile() itself —
            # the op collects scalars, there is no frame to noop-write.
            if METER is not None:
                METER.delta()
            t0 = time.time()
            quality.profile(events)
            log("quality_profile_exact", time.time() - t0, args.events)
            t0 = time.time()
            quality.profile(events, approximate=True)
            log("quality_profile_approx", time.time() - t0, args.events)
        if vecs is not None and want("quantization"):
            from ml_feature_store_pipeline_spark.operators import similarity as sim

            timed(
                "embedding_quantization_audit",
                sim.quantization_fidelity(vecs, "vec_id", "embedding"),
                args.vecs,
            )
        if vecs is not None and want("semantic_dedup"):
            # n_cells sized so cells stay pairwise-affordable (~1k vecs/cell)
            timed(
                "semantic_dedup",
                similarity.semantic_dedup(
                    vecs, threshold=0.85, n_cells=max(args.vecs // 1000, 16)
                ),
                args.vecs,
            )
        if vecs is not None and want("semantic_dedup_auto"):
            # r7 auto-tune: n_cells = ceil(N/target) keeps cell size constant,
            # so per-row cost should stay FLAT across a 10× corpus growth
            # (linear total pair work) — run the same auto knob at 0.1× and
            # 1× and compare rows/sec
            sub = vecs.filter((F.col("vec_id") % 10) == 0)
            timed(
                "semantic_dedup_auto_0.1x",
                similarity.semantic_dedup(sub, threshold=0.85, target_cell_size=1000),
                args.vecs // 10,
            )
            timed(
                "semantic_dedup_auto_1x",
                similarity.semantic_dedup(vecs, threshold=0.85, target_cell_size=1000),
                args.vecs,
            )
        if docs is not None and want("audio_decode"):
            from ml_feature_store_pipeline_spark.operators import multimodal

            multimodal.attach_fake_audio(docs, "doc_id", "text").write.mode(
                "overwrite"
            ).parquet(f"{work}/wavs")
            wavs = spark.read.parquet(f"{work}/wavs")
            timed("audio_decode_stats", multimodal.decode_audio_stats(wavs), args.docs)
        if docs is not None and want("video_frame_sample"):
            from ml_feature_store_pipeline_spark.operators import multimodal

            multimodal.attach_fake_video(docs, "doc_id", "text", n_frames=6).write.mode(
                "overwrite"
            ).parquet(f"{work}/vids")
            vids = spark.read.parquet(f"{work}/vids")
            timed(
                "video_frame_sample_every2",
                multimodal.sample_frame_stats(vids, every_k=2),
                args.docs,
            )
        # ---- round-5: continuous near-dup sink over N epochs --------------
        # The foreachBatch fn is invoked directly with batch frames — the
        # exact code path a real readStream trigger takes, minus the
        # micro-batch scheduler. What's measured is what continuous
        # ingestion pays per trigger: sign the batch, prune standing
        # buckets, expand candidates, append signatures. The flatness of
        # the per-epoch times (vs a growing corpus) is the bounded-state
        # claim in SCALE.md; a superlinear trend here means the sink
        # rescans history.
        if docs is not None and want("streaming_near_dup"):
            from ml_feature_store_pipeline_spark.streaming.ingest import (
                incremental_near_dup_sink,
            )

            n_epochs = 10
            batch_rows = max(args.docs // 20, 1)
            sink = incremental_near_dup_sink(
                f"{work}/stream_sigs", f"{work}/stream_pairs"
            )
            epoch_secs = []
            if METER is not None:
                METER.delta()
            for e in range(n_epochs):
                batch = synth_docs(spark, batch_rows).select(
                    (F.col("doc_id") + e * batch_rows).alias("doc_id"), "text"
                )
                t0 = time.time()
                sink(batch, e)
                epoch_secs.append(round(time.time() - t0, 2))
            log("streaming_near_dup_sink_total", sum(epoch_secs), batch_rows * n_epochs)
            head = sum(epoch_secs[1:4]) / 3  # epoch 0 pays store-creation
            tail = sum(epoch_secs[-3:]) / 3
            print(
                json.dumps(
                    {
                        "op": "streaming_near_dup_sink.epochs",
                        "epoch_secs": epoch_secs,
                        "rows_per_epoch": batch_rows,
                        "tail_over_head": round(tail / max(head, 1e-9), 2),
                        # bounded-state claim: epoch cost must stay ~flat as
                        # the standing corpus grows (superlinear growth here
                        # means the sink rescans history)
                        "flat": tail / max(head, 1e-9) < 2.0,
                    }
                ),
                flush=True,
            )
        # ---- round-7 fourth wave: corpus selection + label-aware curation -
        if docs is not None and want("gopher_rules"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # pure Column scan — shuffle W must read ~0 MB
            timed("gopher_rules", _text.gopher_rules(docs, "doc_id", "text"), args.docs)
        if docs is not None and want("vocab_coverage"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # explode → map-side-combined word counts; top-n cut must be
            # TakeOrderedAndProject, so shuffle carries |vocab| partials
            timed("vocab_coverage_top1000", _text.vocab_coverage(docs, "text", top_n=1000), args.docs)
        if docs is not None and want("dsir_select"):
            from ml_feature_store_pipeline_spark.operators import selection as _sel

            # 1% of docs play the target; ratios are two gram passes whose
            # shuffles carry <= n_buckets partials per partition, the weight
            # pass one decimal partial per (partition, doc); top-k never sorts
            target = docs.filter(F.col("doc_id") % 100 == 0)
            raw = docs.filter(F.col("doc_id") % 100 != 0)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            ratios = _sel.dsir_log_ratios(target, raw, "text", n_buckets=4096)
            picked = _sel.dsir_sample(raw, "doc_id", "text", ratios, k=10_000, n_buckets=4096)
            n_picked = picked.count()
            log("dsir_select_10k_of_corpus", time.time() - t0, args.docs)
            print(json.dumps({"op": "dsir_select.picked", "rows": n_picked}), flush=True)
            # the xxhash64 fast path: same pipeline, JVM hash instead of
            # md5→hex→conv — the production featurizer for corpora where
            # no DuckDB replay is needed
            if METER is not None:
                METER.delta()
            t0 = time.time()
            ratios_x = _sel.dsir_log_ratios(target, raw, "text", n_buckets=4096, hash_fn="xxhash64")
            picked_x = _sel.dsir_sample(raw, "doc_id", "text", ratios_x, k=10_000, n_buckets=4096, hash_fn="xxhash64")
            n_picked_x = picked_x.count()
            log("dsir_select_10k_xxhash64", time.time() - t0, args.docs)
            print(json.dumps({"op": "dsir_select_xxhash64.picked", "rows": n_picked_x}), flush=True)
        if docs is not None and want("budget_select"):
            from ml_feature_store_pipeline_spark.operators import selection as _sel
            from ml_feature_store_pipeline_spark.operators import text as _text

            # banded prefix sum: biggest task sorts ~N/256; two eager small
            # jobs (min/max, band totals) + one windowed pass
            qs = _text.quality_score(docs, "doc_id", "text")
            total_toks = qs.agg(F.sum("n_tokens")).collect()[0][0] or 0
            if METER is not None:
                METER.delta()
            t0 = time.time()
            kept = _sel.select_by_budget(
                qs, "doc_id", score_col="quality_score", weight_col="n_tokens",
                budget=int(total_toks * 0.3),
            )
            n_kept = kept.count()
            log("budget_select_30pct_tokens", time.time() - t0, args.docs)
            print(json.dumps({"op": "budget_select.kept", "rows": n_kept}), flush=True)
        if docs is not None and want("chunk_dedup"):
            from ml_feature_store_pipeline_spark.operators import selection as _sel

            # chunk text crosses the wire twice (digest rank, id reassembly)
            # — the documented cost of rebuilding text output
            timed("chunk_dedup_16tok", _sel.chunk_dedup(docs, "doc_id", "text", chunk_tokens=16), args.docs)
        if events is not None and want("funnel"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # one filtered scan + combinable min-agg per stage; joins are
            # per-key aggregates, never event rows
            timed(
                "funnel_3stage",
                _win.funnel_summary(events, "user_id", "timestamp", "event_type",
                                    ["view", "click", "purchase"]),
                args.events,
            )
        if events is not None and want("trend_slope"):
            from ml_feature_store_pipeline_spark.operators import fe as _fe

            # one broadcast scalar + one map-side-combined groupBy: shuffle
            # carries five decimal partials per (partition, user)
            timed("trend_slope_per_user", _fe.trend_slope(events, "user_id", "timestamp", "amount"), args.events)
        if events is not None and want("cohort_retention"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # activity distincts to (user, week) BEFORE the join
            timed("cohort_retention_weekly", _win.cohort_retention(events, "user_id", "timestamp", period="week"), args.events)
        if events is not None and want("type_affinity"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            timed("type_affinity_pairs", _win.type_affinity(events, "user_id", "event_type"), args.events)
        # shared tie column for the order-sensitive event ops below (the
        # generator emits no event id; one recipe, defined once)
        def _tied(e):
            return e.withColumn(
                "event_id", F.xxhash64("user_id", "timestamp", "event_type", "amount")
            )

        if events is not None and want("rfm"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # key-grain agg + ONE percentile aggregate; boundaries
            # broadcast. rfm_scores runs an eager global-max collect at
            # plan-build time — time the construction too, or the
            # published row omits one of the op's documented 3 passes
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _win.rfm_scores(events, "user_id", "timestamp", "amount").write.format(
                "noop"
            ).mode("overwrite").save()
            log("rfm_quintiles", time.time() - t0, args.events)
        if events is not None and want("attribution"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # one user-window pass computes both touches; rollups are
            # |channels|-sized
            timed(
                "touch_attribution",
                _win.touch_attribution(
                    _tied(events), "user_id", "timestamp", "event_type",
                    conversion="purchase", tie_col="event_id", value_col="amount",
                ),
                args.events,
            )
        if events is not None and want("interarrival"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # one key shuffle; the groupBy reuses the lag window's
            # partitioning (plan-asserted in test_windows.py)
            timed(
                "interarrival_gaps",
                _win.interarrival_stats(_tied(events), "user_id", "timestamp", tie_col="event_id"),
                args.events,
            )
        if events is not None and want("k_anonymity"):
            from ml_feature_store_pipeline_spark import quality as _q

            qdf = events.select(
                "event_type",
                F.date_trunc("day", F.col("timestamp")).cast("date").alias("d"),
                F.floor(F.col("amount") / 10.0).cast("long").alias("vb"),
            )
            # two combinable aggs; only (group, count) rows ever shuffle
            timed("k_anonymity_profile", _q.k_anonymity_profile(qdf, ["event_type", "d", "vb"]), args.events)
        if events is not None and want("resample_ffill"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # events reduce to (key, day) BEFORE the spine fan-out; output
            # is keys x span-days, independent of event count
            timed(
                "resample_ffill_daily",
                _win.resample_daily_ffill(
                    _tied(events), "user_id", "timestamp", "amount", tie_col="event_id"
                ),
                args.events,
            )
        if events is not None and want("session_stats"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # (key, session) rollup reuses the sessionize partitioning; the
            # exact-median cost is |sessions| longs on one aggregator
            timed(
                "session_stats",
                _win.session_stats(events, "user_id", "timestamp", 1800),
                args.events,
            )
        if events is not None and want("session_window"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # native engine merge loop vs sessionize's two window passes —
            # the comparison this row exists for
            timed(
                "session_window_native",
                _win.session_window_agg(events, "user_id", "timestamp", "30 minutes", "amount"),
                args.events,
            )
        if events is not None and want("trigram_paths"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # lead chain rides the sessionize sort; agg output ≤ |vocab|^3
            timed(
                "trigram_paths_top10",
                _win.session_ngram_topk(
                    _tied(events), "user_id", "timestamp", "event_type", 1800,
                    n=3, top_k=10, tie_col="event_id",
                ),
                args.events,
            )
        if events is not None and want("user_entropy"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # two map-side-combinable aggs; shuffles carry (key, type) rows
            timed(
                "user_entropy",
                _drift.categorical_entropy(events, "user_id", "event_type"),
                args.events,
            )
        if events is not None and want("benford"):
            from ml_feature_store_pipeline_spark import quality as _q

            # 9-group count; spine + total broadcast — zero row egress
            timed("benford_profile", _q.benford_profile(events, "amount"), args.events)
        if events is not None and want("ohlc"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # one (key, day) shuffle shared by the first/last window + agg
            timed(
                "ohlc_daily",
                _win.ohlc_bars(
                    _tied(events), "user_id", "timestamp", "amount",
                    tie_col="event_id", freq="day",
                ),
                args.events,
            )
        if events is not None and want("weighted_quantile"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # per-group sort is the intrinsic cost; cum window + total +
            # crossing pick share ONE group shuffle
            timed(
                "weighted_quantile_median",
                _win.weighted_quantile(
                    events.withColumn("w", (F.col("amount") % 7 + 1).cast("double")),
                    ["event_type"], "amount", "w", 0.5,
                ),
                args.events,
            )
            # the sort-free exact twin: 3 scans instead of |groups|
            # single-task sorts — the few-group 100 TB path. Its two
            # |groups|-row pins collect at PLAN-BUILD time, so time the
            # construction too (the rfm rule: publish all 3 passes)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _win.weighted_quantile_hist(
                events.withColumn("w", (F.col("amount") % 7 + 1).cast("double")),
                ["event_type"], "amount", "w", 0.5,
            ).write.format("noop").mode("overwrite").save()
            log("weighted_quantile_hist1024", time.time() - t0, args.events)
        if events is not None and want("kmv_overlap"):
            from ml_feature_store_pipeline_spark.operators import sketches as _sk

            a = events.filter(F.col("event_type") == "view")
            b = events.filter(F.col("event_type") == "purchase")
            # each side reduces to distinct hash fractions map-side; the
            # bottom-k merge is a TakeOrdered — nothing O(N) shuffles
            timed("kmv_overlap_set_ops", _sk.kmv_set_ops(a, b, "user_id", "user_id", k=256), args.events)
        if events is not None and want("transition_matrix"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # one key shuffle (lead window); |vocab|^2 aggregate after
            timed(
                "transition_matrix",
                _win.transition_matrix(_tied(events), "user_id", "timestamp", "event_type", tie_col="event_id"),
                args.events,
            )
        if events is not None and want("gini_skew"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # count-of-counts fold: global window over distinct count VALUES
            timed("gini_skew", _drift.key_gini_skew(events, ["user_id"]), args.events)
        if events is not None and want("hll_actives"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # one ~KB sketch per day; the range join fans out 28 sketch
            # rows/day — compare the exact path's key-day fan-out below
            timed(
                "hll_actives_28d",
                _win.active_user_counts_hll(events, "user_id", "timestamp", windows=(28,)),
                args.events,
            )
            timed(
                "hll_actives_exact_28d",
                _win.active_user_counts(events, "user_id", "timestamp", windows=(28,)),
                args.events,
            )
        if events is not None and want("daily_percentiles"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # per-day reducer buffering is the exact-percentile cost
            timed(
                "daily_percentiles",
                _win.daily_value_percentiles(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("seasonality"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            timed("hourly_seasonality", _win.hourly_seasonality(events, "timestamp"), args.events)
        if events is not None and want("anomaly_profile"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # day aggregate, then |days|-grain frames — dimension-sized
            timed(
                "anomaly_profile_daily",
                _drift.daily_anomaly_profile(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("welch_ttest"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # ONE combinable moment aggregate; zero row egress
            timed(
                "welch_ttest",
                _drift.welch_ttest(events, "event_type", "amount", "view", "purchase"),
                args.events,
            )
        if events is not None and want("ref_integrity"):
            from ml_feature_store_pipeline_spark import quality as _q

            # child keys distinct first: the FK join carries key tables
            child = events.select((F.col("user_id") % 90000).alias("fk"))
            parent = spark.range(100_000).select(F.col("id").alias("pk"))
            timed(
                "ref_integrity_audit",
                _q.referential_integrity_audit(child, parent, "fk", "pk"),
                args.events,
            )
        if events is not None and want("conversion_latency"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            timed(
                "conversion_latency",
                _win.conversion_latency_stats(
                    events, "user_id", "timestamp", "event_type", "view", "purchase"
                ),
                args.events,
            )
        if events is not None and want("ks_drift"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            half = events.filter(F.col("user_id") % 2 == 0)
            other = events.filter(F.col("user_id") % 2 == 1)
            # two <=bins-row counts; CDF windows on the 1000-row bin table
            timed(
                "ks_drift_1000bins",
                _drift.ks_statistic(half, other, "amount", lo=0.0, hi=500.0, bins=1000),
                args.events,
            )
        if events is not None and want("ab_srm"):
            from ml_feature_store_pipeline_spark.operators import sampling as _s

            arms = {"control": 0.5, "treat_a": 0.25, "treat_b": 0.25}
            assigned = _s.experiment_assignment(events, "user_id", salt="exp1", arms=arms)
            # the arm is a zero-shuffle FUNCTION of the key; SRM is a
            # 3-group count
            timed("ab_srm_check", _s.srm_check(assigned, "arm", arms), args.events)
        if events is not None and want("mad_outliers"):
            from ml_feature_store_pipeline_spark import quality as _q

            # three group-key scans: median, MAD, flag count. The two
            # |groups|-row pins collect at plan-build — time construction
            # too (the rfm rule)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _q.mad_outlier_profile(events, ["event_type"], "amount").write.format(
                "noop"
            ).mode("overwrite").save()
            log("mad_outliers", time.time() - t0, args.events)
        if events is not None and want("pagerank"):
            from ml_feature_store_pipeline_spark.operators import graph as _graph

            # synthetic power-law-ish graph: 2M edges over ~200k nodes.
            # und/deg pin at plan-build (localCheckpoint) — time it all
            edges_df = spark.range(2_000_000).select(
                (F.xxhash64("id") % 200_000).alias("a"),
                (F.xxhash64("id", F.lit(1)) % 20_000).alias("b"),
            ).filter(F.col("a") != F.col("b"))
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _graph.pagerank(edges_df, "a", "b", iterations=10).write.format(
                "noop"
            ).mode("overwrite").save()
            log("pagerank_10iter_2m_edges", time.time() - t0, 2_000_000 * 10)
        if events is not None and want("pagerank_copart"):
            from ml_feature_store_pipeline_spark.operators import graph as _graph

            # the plain-vs-co-partitioned trade, made measurable: the
            # SAME 20M-edge graph through (a) the default plain-AQE loop
            # (edge table re-exchanged every iteration — all local
            # copies in one JVM) and (b) the opt-in co-partitioned
            # hash(s) pin at full 32-way parallelism (edge table
            # exchanged once). Locally (a) wins — shuffle never crosses
            # a network — which is WHY plain is the default; the row
            # documents the opt-in's cost model for cluster deployments.
            big_edges = spark.range(20_000_000).select(
                (F.xxhash64("id") % 2_000_000).alias("a"),
                (F.xxhash64("id", F.lit(1)) % 200_000).alias("b"),
            ).filter(F.col("a") != F.col("b"))
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _graph.pagerank(big_edges, "a", "b", iterations=10).write.format(
                "noop"
            ).mode("overwrite").save()
            log("pagerank_20m_edges_plain_aqe", time.time() - t0, 20_000_000 * 10)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _graph.pagerank(
                big_edges, "a", "b", iterations=10, edges_per_partition=1_250_000
            ).write.format("noop").mode("overwrite").save()
            log("pagerank_20m_edges_copartitioned", time.time() - t0, 20_000_000 * 10)
        if events is not None and want("triangles"):
            from ml_feature_store_pipeline_spark.operators import graph as _graph

            # same synthetic 2M-edge graph as pagerank; the degree
            # orientation bounds the wedge fan-out by oriented out-degree
            # (the 20k-node b side makes real hubs). Pins at plan-build —
            # time it all
            tri_edges = spark.range(2_000_000).select(
                (F.xxhash64("id") % 200_000).alias("a"),
                (F.xxhash64("id", F.lit(1)) % 20_000).alias("b"),
            ).filter(F.col("a") != F.col("b"))
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _graph.triangle_stats(tri_edges, "a", "b").write.format("noop").mode(
                "overwrite"
            ).save()
            log("triangles_2m_edges", time.time() - t0, 2_000_000)
        if events is not None and want("triangles_20m"):
            from ml_feature_store_pipeline_spark.operators import graph as _graph

            # r8 verdict item 6: the wedge shape at 10x — same hub profile
            # (b side 10% of a side) as the 2M row, so the oriented
            # out-degree bound is what's being stressed, not a sparser graph
            tri_edges_20m = spark.range(20_000_000).select(
                (F.xxhash64("id") % 2_000_000).alias("a"),
                (F.xxhash64("id", F.lit(1)) % 200_000).alias("b"),
            ).filter(F.col("a") != F.col("b"))
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _graph.triangle_stats(tri_edges_20m, "a", "b").write.format("noop").mode(
                "overwrite"
            ).save()
            log("triangles_20m_edges", time.time() - t0, 20_000_000)
        if events is not None and want("temporal_split"):
            from ml_feature_store_pipeline_spark.operators import pit as _pit

            # r9: split + leakage audit — one entity RANGE window, one
            # (stratum, entity) agg, one |strata| rollup. The cutoff is a
            # driver-side scalar (one approx-percentile job, not timed as
            # part of the operator).
            cut = events.selectExpr(
                "CAST(percentile_approx(timestamp, 0.7) AS STRING)"
            ).first()[0]
            timed(
                "temporal_split_audit",
                _pit.temporal_split_audit(
                    events,
                    entity_col="user_id",
                    time_col="timestamp",
                    stratum_col="event_type",
                    cutoff=cut,
                ),
                args.events,
            )
        if events is not None and want("mutual_info"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # one contingency aggregate to |cats| x bins cells
            timed(
                "mutual_info",
                _drift.mutual_information(events, "event_type", "amount", lo=0.0, hi=500.0, bins=10),
                args.events,
            )
        if events is not None and want("l_diversity"):
            from ml_feature_store_pipeline_spark import quality as _q

            ldf = events.select(
                "event_type",
                F.date_trunc("day", F.col("timestamp")).cast("date").alias("d"),
                "user_id",
            )
            # same shuffle discipline as k_anonymity: (group, count) rows only
            timed("l_diversity_profile", _q.l_diversity_profile(ldf, ["event_type", "d"], "user_id"), args.events)
        if events is not None and want("copurchase"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # market basket at HIGH category cardinality (5k items, baskets
            # of ~5): the distinct (basket, item) set is what self-joins —
            # pair count ≈ baskets × C(basket_size, 2), not events²
            baskets = _tied(events).select(
                (F.col("event_id") % (args.events // 5 + 1)).alias("basket"),
                (F.xxhash64("event_id") % 5000).alias("item"),
            )
            timed(
                "copurchase_lift_5k_items",
                _win.type_affinity(baskets, "basket", "item")
                .orderBy(F.desc("n_keys_both"), F.asc("type_a"), F.asc("type_b"))
                .limit(20),
                args.events,
            )
        if events is not None and want("corr_matrix"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # one combinable moment aggregate over 3 derived numerics
            cdf = events.select(
                F.col("amount").alias("a"),
                (F.hour("timestamp").cast("double")).alias("h"),
                ((F.col("user_id") % 1000).cast("double")).alias("u"),
            )
            timed("corr_matrix_3col", _drift.correlation_matrix(cdf, ["a", "h", "u"]), args.events)
        if events is not None and want("spearman"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # two banded rank passes over the full fact table — the biggest
            # task sorts ~N/256 rows; shuffle carries (value, band) rows
            sdf = events.select(
                F.col("amount").alias("a"),
                (F.unix_timestamp("timestamp") % 86400).cast("double").alias("tod"),
            )
            timed("spearman_banded_ranks", _drift.spearman_corr(sdf, "a", "tod"), args.events)
        if events is not None and want("mann_whitney"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            timed(
                "mann_whitney_2group",
                _drift.mann_whitney_u(events, "event_type", "amount", "view", "purchase"),
                args.events,
            )
        if events is not None and want("survival"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # per-key span aggregate; the KM product runs on |durations| rows
            timed(
                "survival_curve_km",
                _win.survival_curve(events, "user_id", "timestamp", censor_days=2),
                args.events,
            )
        if events is not None and want("bootstrap"):
            from ml_feature_store_pipeline_spark.operators import sampling as _s

            # 16 replicate reweightings in ONE aggregate — 34 partials/row,
            # the md5 draws are the cost (16 hashes per row)
            timed(
                "bootstrap_ci_16rep",
                _s.bootstrap_mean_ci(events, "amount", "user_id", n_replicates=16),
                args.events,
            )
        if events is not None and want("cuped"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift
            from ml_feature_store_pipeline_spark.operators.sketches import hash_fraction

            cut = F.lit("2023-01-01 02:00:00").cast("timestamp")
            per_user = events.groupBy("user_id").agg(
                F.avg(F.when(F.col("timestamp") < cut, F.col("amount"))).alias("x"),
                F.avg(F.when(F.col("timestamp") >= cut, F.col("amount"))).alias("y"),
            ).withColumn(
                "t", hash_fraction(F.col("user_id").cast("string")) < 0.5
            )
            timed(
                "cuped_lift",
                _drift.cuped_lift(per_user, F.col("t"), "x", "y"),
                args.events,
            )
        if events is not None and want("did_estimate"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift
            from ml_feature_store_pipeline_spark.operators.sketches import hash_fraction

            treat = hash_fraction(F.col("user_id").cast("string")) < 0.5
            post = F.col("timestamp") >= F.lit("2023-01-01 02:00:00").cast("timestamp")
            timed(
                "did_estimate_4cell",
                _drift.diff_in_diff(events, treat, post, "amount"),
                args.events,
            )
        if events is not None and want("seasonal"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            timed(
                "seasonal_decompose",
                _drift.seasonal_decompose_daily(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("trimmed_mean"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # one banded rank pass + keep-count overlap + survivor mean
            timed(
                "trimmed_mean_5pct",
                _drift.trimmed_mean(events, "amount", trim_frac=0.05),
                args.events,
            )
        if events is not None and want("value_gini"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            timed(
                "value_gini",
                _drift.value_gini(events, "amount"),
                args.events,
            )
        if events is not None and want("holt_forecast"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # r9: one day-grain agg; the coupled recursion folds on the
            # |days| array in a single task (dimension-sized exception)
            timed(
                "holt_forecast_daily",
                _drift.holt_forecast_daily(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("t_closeness"):
            from ml_feature_store_pipeline_spark import quality as _q

            # r9: same shuffle discipline as k_anonymity/l_diversity —
            # (group, category) count rows only, marginals broadcast
            tdf = events.select(
                F.date_trunc("day", F.col("timestamp")).cast("date").alias("d"),
                "event_type",
            )
            timed(
                "t_closeness_profile",
                _q.t_closeness_profile(tdf, ["d"], "event_type"),
                args.events,
            )
        if events is not None and want("adamic_adar"):
            from ml_feature_store_pipeline_spark.operators import graph as _graph

            # r9: same basket shape as copurchase (baskets of ~5, 5k
            # items) — pair fan-out bounded by basket size
            aa_baskets = _tied(events).select(
                F.pmod(F.col("event_id"), F.lit(args.events // 5 + 1)).alias("basket"),
                F.pmod(F.xxhash64("event_id"), F.lit(5000)).alias("item"),
            )
            timed(
                "adamic_adar_topk",
                _graph.adamic_adar_topk(aa_baskets, "basket", "item", top_k=20),
                args.events,
            )
        if events is not None and want("item_item_cosine"):
            from ml_feature_store_pipeline_spark.operators import windows as _win

            # r9: CUSTOMER-grain incidence (~40 distinct items of 5k per
            # key): the heavy CF shape — C(40,2)=780 pair rows per key
            # pre-combine, events/40 keys
            cf = _tied(events).select(
                F.pmod(F.col("event_id"), F.lit(args.events // 40 + 1)).alias("cust"),
                F.pmod(F.xxhash64("event_id"), F.lit(5000)).alias("item"),
            )
            timed(
                "item_item_cosine",
                _win.cooccurrence_cosine(cf, "cust", "item", min_pair_keys=2)
                .orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
                .limit(20),
                args.events,
            )
        if events is not None and want("isotonic"):
            from ml_feature_store_pipeline_spark.operators import mlfeatures as _mlf

            # r9: one bin aggregate over the scan; the PAV minimax runs
            # on the n_bins-row result
            sc = events.select(
                (F.pmod(F.xxhash64("user_id", "timestamp"), F.lit(10000)).cast("double")
                 / 10000.0).alias("score"),
                (F.col("amount") > 0).alias("y"),
            )
            timed(
                "isotonic_calibration",
                _mlf.isotonic_calibration(sc, "score", F.col("y"), n_bins=10),
                args.events,
            )
        if events is not None and want("stl_anomaly"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # r9: the decompose's day-grain aggregate + |days| scalars
            timed(
                "stl_anomaly_days",
                _drift.stl_anomaly_days(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("forecast_backtest"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # r9: the Holt day-grain pass + one |days| lag window
            timed(
                "forecast_backtest_daily",
                _drift.forecast_backtest_daily(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("best_split"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # r9: one day-grain agg; prefix moments + argmax on |days|
            timed(
                "best_split_daily",
                _drift.best_split_daily(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("layout_pruning"):
            from ml_feature_store_pipeline_spark.operators import layout as _layout

            # r9: per layout ONE scan + one combinable (file) min/max agg
            # against broadcast percentile boundaries — no global sort
            pday = F.datediff(F.col("timestamp"), F.lit("1970-01-01"))
            mn = events.agg(F.min(pday).cast("long").alias("d0"))
            preds = mn.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(k).cast("int").alias("pred_id"),
                                (F.col("d0") + F.lit(off)).cast("long").alias("lo"),
                                (F.col("d0") + F.lit(off) + 2).cast("long").alias("hi"),
                            )
                            for k, off in enumerate((0, 10, 20))
                        ]
                    )
                ).alias("p")
            ).select("p.*")
            timed(
                "layout_pruning_audit",
                _layout.pruning_audit(
                    events,
                    {"by_day": pday, "by_user": F.col("user_id")},
                    pday.cast("long"),
                    preds,
                    n_files=16,
                ),
                args.events,
            )
        if events is not None and want("cusum"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # one day-grain agg; CUSUM windows on the |days| table
            timed(
                "cusum_daily",
                _drift.cusum_daily(events, "timestamp", "amount"),
                args.events,
            )
        if events is not None and want("daily_acf"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            # one day-grain agg; everything after is |days|-sized
            timed("daily_acf_lag7", _drift.daily_acf(events, "timestamp", "amount", max_lag=7), args.events)
        if events is not None and want("quantile_transform"):
            from ml_feature_store_pipeline_spark.operators import fe as _fe

            # one banded rank pass; per-row output (the FE-transform shape)
            timed(
                "quantile_transform_amount",
                _fe.quantile_transform(events.select("amount"), "amount"),
                args.events,
            )
        if events is not None and want("woe_iv"):
            from ml_feature_store_pipeline_spark.operators import fe as _fe

            timed(
                "woe_iv_event_type",
                _fe.woe_iv(events, "event_type", F.col("amount") > 0),
                args.events,
            )
        if events is not None and want("chi2"):
            from ml_feature_store_pipeline_spark.operators import drift as _drift

            c2 = events.select("event_type", F.hour("timestamp").alias("h"))
            timed(
                "chi2_type_hour",
                _drift.chi_square_independence(c2, "event_type", "h"),
                args.events,
            )
        if docs is not None and want("bpe_stats"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # regexp_extract_all scan — zero shuffles like gopher_rules
            timed("bpe_stats_scan", _text.bpe_token_stats(docs, "doc_id", "text"), args.docs)
        if docs is not None and want("bpe_pairs"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # two explodes into one map-side-combined agg: shuffle carries
            # |alphabet|^2 partials per partition, never corpus positions
            timed("bpe_pairs_top1000", _text.bpe_pair_stats(docs, "text", top_n=1000), args.docs)
        if docs is not None and want("bpe_train"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # iterative trainer: per merge one pair-count scan + fold
            # apply; corpus localCheckpoints pin the loop (time the
            # driver argmax collects too — they ARE the iteration)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _text.bpe_train(docs, "text", n_merges=4).write.format("noop").mode(
                "overwrite"
            ).save()
            log("bpe_train_4merges", time.time() - t0, args.docs)
        if docs is not None and want("bpe_encode"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # serving half of BPE: learn 4 merges once on a bounded slice
            # (the merge table is plan literals — training scale is
            # bpe_train's row, not this one), then ONE fold-chained
            # projection pass over the FULL corpus — encode must not
            # inherit training's per-merge scans
            merges = [
                (r["left"], r["right"], r["merged"])
                for r in _text.bpe_train(
                    docs.limit(100_000), "text", n_merges=4
                ).collect()
            ]
            timed(
                "bpe_encode_4merges",
                _text.bpe_encode_stats(docs, "doc_id", "text", merges),
                args.docs,
            )
        if docs is not None and want("readability"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # r9: zero-shuffle regex projection — the row-local floor
            timed(
                "readability",
                _text.readability(docs, "doc_id", "text"),
                args.docs,
            )
        if docs is not None and want("unigram_kl"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # r9: one (source, word) combinable aggregate; marginals join
            # back word-keyed
            kd = docs.withColumn(
                "source", F.concat(F.lit("s"), F.pmod(F.xxhash64("doc_id"), F.lit(20)))
            )
            timed(
                "unigram_kl_by_source",
                _text.unigram_kl_by_source(kd, "source", "text"),
                args.docs,
            )
        if docs is not None and want("kl_mixture"):
            from ml_feature_store_pipeline_spark.functions import token_count
            from ml_feature_store_pipeline_spark.operators import sampling as _sampling
            from ml_feature_store_pipeline_spark.operators import text as _text

            # r10: the diagnose→act loop end to end — the KL aggregate,
            # the |sources| plan collects (metadata-scale, run eagerly at
            # plan build: time it all, the bpe_train rule), then the
            # re-balanced sample is a pushed-down md5 filter + one
            # per-source rollup; corpus text never shuffles
            kd = docs.withColumn(
                "source", F.concat(F.lit("s"), F.pmod(F.xxhash64("doc_id"), F.lit(20)))
            )
            if METER is not None:
                METER.delta()
            t0 = time.time()
            klv = {
                r["source"]: float(r["kl_vs_corpus"])
                for r in _text.unigram_kl_by_source(kd, "source", "text")
                .select("source", "kl_vs_corpus")
                .collect()
            }
            wts = _sampling.kl_mixture_weights(klv)
            kept = _sampling.mixture_sample_by_tokens(
                kd, "doc_id", "source", wts, n_tokens=token_count(F.col("text"))
            )
            kept.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(token_count(F.col("text"))).alias("n_tokens"),
            ).write.format("noop").mode("overwrite").save()
            log("kl_reweighted_mixture", time.time() - t0, args.docs)
        if docs is not None and want("rake"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # r9: token explode + doc-keyed island window + combinable
            # word stats broadcast onto distinct phrases
            timed(
                "rake_keyphrases",
                _text.rake_keyphrases(docs, "doc_id", "text", top_k=20),
                args.docs,
            )
        if docs is not None and want("bm25"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # only query-matching tokens explode; stats broadcast; top-k is
            # TakeOrderedAndProject — no global sort
            timed(
                "bm25_topk_3terms",
                _text.bm25_topk(docs, "doc_id", "text", ["vector", "stream", "customer"], k=100),
                args.docs,
            )
        if docs is not None and want("tfidf_doc_topk"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            # 10 query docs' term vectors broadcast; corpus streams through
            # one term-keyed join — the sparse-retrieval shape. The synth
            # vocab is DEGENERATE (every term in ~every doc — the r9 heavy
            # tail: 136 s / doc²-ish fan-out at 2M docs), which is exactly
            # what the r10 rank-bounded posting cap bounds: fan-out
            # ≤ |query terms|·cap regardless of vocabulary density. Run
            # capped (the 100 TB default) AND uncapped, then assert the
            # capped result still recovers the uncapped top-10 (recall
            # floor — the cap must bound cost, not zero the metric).
            results = {}
            for label, cap in (("cap64", 64), ("uncapped", None)):
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                rows = _text.tfidf_doc_topk(
                    docs, "doc_id", "text", list(range(10)), k=10, max_postings=cap
                ).collect()
                log(f"tfidf_doc_topk_10q_{label}", time.time() - t0, args.docs)
                results[label] = {(r["query_id"], r["doc_id"]) for r in rows}
            n_gt = len(results["uncapped"])
            # On THIS corpus the recall number is a null measurement, not
            # a floor: all 30 synth terms sit at df≈N (idf≈1 uniformly),
            # so the "exact top-k" is signal-free magnitude ordering and
            # NO sublinear posting scheme can track it (same physics as
            # isotropic LSH). Reported anyway — honesty over optics.
            print(
                json.dumps(
                    {
                        "op": "tfidf_doc_topk.cap64_recall_vs_uncapped_degenerate",
                        "recall": round(
                            len(results["cap64"] & results["uncapped"]) / max(n_gt, 1), 4
                        ),
                    }
                ),
                flush=True,
            )
            # The floor the cap PROMISES is for a REAL vocabulary shape —
            # Zipf-distributed term frequencies (Anh & Moffat's impact
            # pruning is an empirical result on exactly that shape):
            # head terms (df >> cap) carry idf≈1 and get pruned, the
            # discriminative mid/tail terms (df ≤ cap) keep their
            # postings whole, and those drive the cosine ranking. 40
            # tokens per doc, ranks log-uniform over a 2M vocab
            # (frequency of rank r ∝ 1/r) — the vocab must scale WITH the
            # corpus or no term stays sub-cap: at 80M tokens, ranks past
            # ~86k have df < 64, putting ~22% of every doc's token mass
            # in whole-posting discriminators.
            zipf = F.transform(
                F.sequence(F.lit(1), F.lit(40)),
                lambda i: F.concat(
                    F.lit("z"),
                    F.floor(
                        F.exp(
                            (
                                F.pmod(
                                    F.xxhash64(F.col("doc_id"), i, F.lit(5)),
                                    F.lit(1000000),
                                ).cast("double")
                                / 1000000.0
                            )
                            * float(math.log(2000000))
                        )
                    ).cast("long"),
                ),
            )
            mixed = docs.select("doc_id", F.concat_ws(" ", zipf).alias("text"))
            mixed.write.mode("overwrite").parquet(f"{work}/mixdocs")
            mixed = spark.read.parquet(f"{work}/mixdocs")
            # The cap is a RECALL DIAL that must scale with the corpus —
            # the same lesson the PQ shortlist taught at 2M: a Zipf
            # vocabulary has no sharp stop/content split, so discriminative
            # mass spans the df spectrum and a fixed 64 prunes real signal
            # at the million-doc scale. Sweep the dial; the cost bound is
            # the point of the small cap, the recall floor is the point of
            # the scaled one (cap ≈ n/1000 keeps every term with
            # idf ≥ ln(1000) intact).
            # Two metrics per cap: exact-IDENTITY recall@10 (harsh — the
            # log-uniform corpus makes the exact top-10 a near-tie
            # cluster, so identity churn is expected) and top-10-in-
            # exact-top-100 (the standard relaxed effectiveness readout:
            # did the capped index return docs the exact scorer also
            # ranks highly).
            if METER is not None:
                METER.delta()
            t0 = time.time()
            gt_rows = _text.tfidf_doc_topk(
                mixed, "doc_id", "text", list(range(10)), k=100, max_postings=None
            ).collect()
            log("tfidf_doc_topk_10q_zipfvocab_uncapped_k100", time.time() - t0, args.docs)
            gt10 = {(r["query_id"], r["doc_id"]) for r in gt_rows if r["rank"] <= 10}
            gt100 = {(r["query_id"], r["doc_id"]) for r in gt_rows}
            for label, cap in (("cap64", 64), ("cap1024", 1024), ("cap4096", 4096)):
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                rows = _text.tfidf_doc_topk(
                    mixed, "doc_id", "text", list(range(10)), k=10, max_postings=cap
                ).collect()
                log(f"tfidf_doc_topk_10q_zipfvocab_{label}", time.time() - t0, args.docs)
                got = {(r["query_id"], r["doc_id"]) for r in rows}
                print(
                    json.dumps(
                        {
                            "op": f"tfidf_doc_topk.{label}_vs_uncapped_zipfvocab",
                            "identity_recall_at_10": round(
                                len(got & gt10) / max(len(gt10), 1), 4
                            ),
                            "in_exact_top100": round(
                                len(got & gt100) / max(len(got), 1), 4
                            ),
                        }
                    ),
                    flush=True,
                )
        if docs is not None and want("substr_decontaminate"):
            from ml_feature_store_pipeline_spark.operators import dedup as _dedup

            # r9: ~1% of docs play the benchmark (dense windows, broadcast
            # hashes); the other 99% are the train side that must never
            # shuffle raw text — only candidate rows reach the verify join
            ev_docs = docs.filter(F.col("doc_id") % 101 == 0)
            tr_docs = docs.filter(F.col("doc_id") % 101 != 0)
            timed(
                "substr_decontaminate_L30S8",
                _dedup.substring_overlap_pairs(
                    tr_docs, ev_docs, "doc_id", "text", passage_len=30, stride=8
                ),
                args.docs,
            )
        if docs is not None and want("sketch_calibrate"):
            from ml_feature_store_pipeline_spark.operators import text as _text

            qs = _text.quality_score(docs, "doc_id", "text").join(
                docs.withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 8).cast("string")))
                .select("doc_id", "source"),
                "doc_id",
            )
            # exact per-source percent_rank window vs the zero-sort
            # histogram path on the SAME input — the trade made measurable
            timed(
                "sketch_calibrate_exact_window",
                _text.quality_calibrate(qs, "doc_id", "quality_score", "source"),
                args.docs,
            )
            timed(
                "sketch_calibrate_histogram",
                _text.quality_calibrate(qs, "doc_id", "quality_score", "source", strategy="sketch"),
                args.docs,
            )
        if vecs is not None and want("pq_rerank"):
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            pq_queries = vecs.filter(F.col("vec_id") < 100).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            # stage 1 scores the CODE index (m ints/vector), stage 2
            # re-ranks only |queries|x shortlist real vectors. The build's
            # seed collect happens at plan-build — time it all (rfm rule)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _sim.pq_topk_rerank(
                pq_queries, vecs, k=10, m=16, k_codes=16, shortlist=100
            ).write.format("noop").mode("overwrite").save()
            log("pq_rerank_topk", time.time() - t0, args.vecs * 100)
        if vecs is not None and want("kmeans"):
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            # 4 zero-shuffle assignment scans + 3 kxdim update shuffles;
            # the per-iteration centroid collects happen at plan-build —
            # time it all (the bpe_train rule)
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _sim.kmeans_stats(vecs, k=8, n_iters=3).write.format("noop").mode(
                "overwrite"
            ).save()
            log("kmeans_k8_3iters", time.time() - t0, args.vecs)
        if vecs is not None and want("dim_correlation"):
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            # r9: rows·d(d-1)/2 products explode into a d²-keyed hash agg
            # whose map-side combine caps the shuffle at O(partitions·d²)
            # — CPU-bound by construction (exact covariance touches every
            # product); the gate prices that honestly. The max-dimension
            # probe .first() and the driver-side posmap build run EAGERLY
            # at plan construction — time the construction too (the
            # pca_power rule), or the row under-reports the real cost
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _sim.dim_correlation_topk(vecs, "embedding", top_k=20).write.format(
                "noop"
            ).mode("overwrite").save()
            log("dim_correlation_topk", time.time() - t0, args.vecs)
        if vecs is not None and want("pca_power"):
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            # r9: same corpus pass as dim_correlation (the shared
            # _pairwise_moments explode) + 10 |d|-sized iterations against
            # the pinned covariance. The pass runs EAGERLY at plan build
            # (localCheckpoint pins) — time the construction too, or the
            # row reports only the final |d|-sized join
            if METER is not None:
                METER.delta()
            t0 = time.time()
            _sim.pca_power_embeddings(vecs, "embedding", iterations=10).write.format(
                "noop"
            ).mode("overwrite").save()
            log("pca_power", time.time() - t0, args.vecs)
        if vecs is not None and want("rerank_eval"):
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            # r9: the full eval harness — brute-force GT + 3 candidate
            # routes + metric joins. Route construction, the pins, and the
            # metric bookkeeping all run at plan-build/collect — time it
            # all (the bpe_train rule). Cost scales with the corpus scans;
            # the metric stage stays |queries|*k regardless of corpus size.
            q20 = vecs.filter(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            from ml_feature_store_pipeline_spark.functions import pin_concurrent as _pin_all

            if METER is not None:
                METER.delta()
            t0 = time.time()
            # r10: the four lineage-independent builds run as concurrent
            # jobs (the q_ann_rerank_eval change) — same routes, same
            # pins, overlapped wall (r9 sequential row: 836.2 s at 2 M)
            pins = _pin_all(
                {
                    "gt": lambda: _sim.nonself_topk(_sim.cosine_topk(q20, vecs, k=6), k=5),
                    "lsh": lambda: _sim.nonself_topk(
                        _sim.lsh_topk(q20, vecs, k=6, dim=64, n_planes=4, n_tables=16), k=5
                    ),
                    "ivf": lambda: _sim.nonself_topk(
                        _sim.ivf_topk(q20, vecs, k=6, n_cells=8, nprobe=2), k=5
                    ),
                    "pq": lambda: _sim.nonself_topk(
                        _sim.pq_topk_rerank(q20, vecs, k=6, m=16, k_codes=16, shortlist=100),
                        k=5,
                    ),
                }
            )
            out = None
            for vname in ("lsh", "ivf", "pq"):
                m = _sim.rerank_eval(pins["gt"], pins[vname], k=5).select(
                    F.lit(vname).alias("variant"), "n_queries", "k", "recall_at_k", "mrr"
                )
                out = m if out is None else out.unionByName(m)
            rows = out.collect()
            log("rerank_eval_3routes_20q", time.time() - t0, args.vecs * 4)
            for r in rows:
                print(json.dumps({
                    "op": f"rerank_eval.{r['variant']}",
                    "recall_at_5": round(r["recall_at_k"], 4),
                    "mrr": round(r["mrr"], 4),
                }), flush=True)
        if vecs is not None and want("ann_autoscale"):
            from ml_feature_store_pipeline_spark.operators import similarity as _sim
            from ml_feature_store_pipeline_spark.functions import pin_local as _pin

            # r10: corpus-aware route defaults (auto_lsh_params planes and
            # tables; 1% PQ shortlist) measured in BOTH vector regimes —
            # the isotropic synth corpus (sign-LSH's information-theoretic
            # worst case: neighbors barely closer than noise, NO
            # bounded-candidate scheme holds high recall there) and a
            # 64-cluster corpus (the shape real embedding spaces have,
            # where the auto defaults must hold the floors: lsh >= 0.8,
            # pq >= 0.7 recall@5).
            synth_clustered_vecs(spark, args.vecs).write.mode("overwrite").parquet(f"{work}/cvecs")
            cvecs = spark.read.parquet(f"{work}/cvecs")
            auto_p, auto_t = _sim.auto_lsh_params(args.vecs, 6)
            auto_sl = max(100, 20 * 6, int(math.ceil(0.01 * args.vecs)))
            print(
                json.dumps(
                    {
                        "op": "ann_autoscale.params",
                        "n": args.vecs,
                        "lsh_planes": auto_p,
                        "lsh_tables": auto_t,
                        "pq_shortlist": auto_sl,
                        "lsh_cand_frac_est": round(auto_t / 2.0 ** auto_p, 5),
                    }
                ),
                flush=True,
            )
            for regime, cdf in (("isotropic", vecs), ("clustered", cvecs)):
                aq20 = cdf.filter(F.col("vec_id") < 20).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                )
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                # shared-count rule (r10 VERDICT item 4): the three auto
                # routes size themselves from ONE corpus count instead of
                # each running its own identical count scan at plan build
                n_known = cdf.count()
                agt = _pin(_sim.nonself_topk(_sim.cosine_topk(aq20, cdf, k=6), k=5))
                aroutes = {
                    "lsh": _sim.lsh_topk(aq20, cdf, k=6, dim=64, n_corpus=n_known),
                    "pq": _sim.pq_topk_rerank(
                        aq20, cdf, k=6, m=16, k_codes=16, n_corpus=n_known
                    ),
                    "ivf": _sim.ivf_topk(aq20, cdf, k=6, n_corpus=n_known),
                }
                aout = None
                for vname, scored in aroutes.items():
                    m = _sim.rerank_eval(
                        agt, _pin(_sim.nonself_topk(scored, k=5)), k=5
                    ).select(
                        F.lit(vname).alias("variant"), "n_queries", "k", "recall_at_k", "mrr"
                    )
                    aout = m if aout is None else aout.unionByName(m)
                arows = aout.collect()
                log(f"ann_autoscale_{regime}_3routes_20q", time.time() - t0, args.vecs * 4)
                floors = {"lsh": 0.8, "pq": 0.7, "ivf": 0.7}
                for r in arows:
                    rec = {
                        "op": f"ann_autoscale.{regime}.{r['variant']}",
                        "recall_at_5": round(r["recall_at_k"], 4),
                        "mrr": round(r["mrr"], 4),
                    }
                    if regime == "clustered":
                        rec["floor_ok"] = bool(r["recall_at_k"] >= floors[r["variant"]])
                    print(json.dumps(rec), flush=True)
        if vecs is not None and want("ivf_fit_dial"):
            # r11 VERDICT item 3: with the BLAS assignment kernel in
            # place, the k=√n KMeans fit DOMINATES ivf_build at auto
            # params (177 s of the 2 M build; ~80 % of the 3-route
            # stress's growth). Sweep the two fit dials — maxIter and the
            # 100·n_cells sample rule — on the CLUSTERED corpus (the
            # geometry real embedding spaces have), gating any defaults
            # change on recall@5 >= 0.9 holding. Brute ground truth is
            # computed once and pinned; each config pays fit + assignment
            # + probe.
            from ml_feature_store_pipeline_spark.functions import pin_local as _pin
            from ml_feature_store_pipeline_spark.operators import similarity as _sim

            cpath = f"{work}/cvecs_dial"
            synth_clustered_vecs(spark, args.vecs).write.mode("overwrite").parquet(cpath)
            cdf = spark.read.parquet(cpath)
            n_known = cdf.count()
            dial_cells, dial_probe = _sim.auto_ivf_params(n_known)
            dq20 = cdf.filter(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            dial_gt = _pin(_sim.nonself_topk(_sim.cosine_topk(dq20, cdf, k=6), k=5))
            # (max_iter, sample_per_cell, init_mode, init_steps). The r12
            # 2 M sweep showed max_iter is a DEAD dial (fit flat at
            # 193/223/203 s for 20/10/5 — Lloyd converges on tol in a few
            # iterations); the fit cost sits in k-means|| INIT, so the
            # live dials are init_mode=random and init_steps=1.
            # SCALECHECK_IVF_DIAL overrides the sweep (JSON list of
            # [max_iter, sample_per_cell, init_mode, init_steps]) so a
            # re-run can target new configs without re-paying measured
            # ones.
            dial_configs = [
                (20, 100, "k-means||", 2),
                (10, 100, "k-means||", 2),
                (5, 100, "k-means||", 2),
                (10, 50, "k-means||", 2),
                (20, 100, "k-means||", 1),
                (20, 100, "random", 2),
                (5, 100, "random", 2),
            ]
            env_configs = os.environ.get("SCALECHECK_IVF_DIAL")
            if env_configs:
                dial_configs = [tuple(c) for c in json.loads(env_configs)]
            for mi, spc, imode, isteps in dial_configs:
                frac = min(1.0, (spc * dial_cells) / max(n_known, 1))
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                dcent, dlists = _sim.ivf_build(
                    cdf,
                    n_cells=dial_cells,
                    train_fraction=frac,
                    max_iter=mi,
                    init_mode=imode,
                    init_steps=isteps,
                )
                fit_sec = time.time() - t0
                t1 = time.time()
                dm = _sim.rerank_eval(
                    dial_gt,
                    _pin(
                        _sim.nonself_topk(
                            _sim.ivf_query(dq20, dcent, dlists, k=6, nprobe=dial_probe),
                            k=5,
                        )
                    ),
                    k=5,
                ).collect()[0]
                probe_sec = time.time() - t1
                print(
                    json.dumps(
                        {
                            "op": f"ivf_fit_dial.mi{mi}.s{spc}.{imode}.i{isteps}",
                            "n": n_known,
                            "n_cells": dial_cells,
                            "nprobe": dial_probe,
                            "fit_sec": round(fit_sec, 1),
                            "probe_sec": round(probe_sec, 1),
                            "recall_at_5": round(dm["recall_at_k"], 4),
                            "mrr": round(dm["mrr"], 4),
                            "recall_ok": bool(dm["recall_at_k"] >= 0.9),
                        }
                    ),
                    flush=True,
                )
        if vecs is not None and want("random_projection"):
            # pure codegen scan: out_dim x in_dim fused multiply-adds per row
            timed(
                "random_projection_64to16",
                similarity.random_projection(vecs, in_dim=64, out_dim=16),
                args.vecs,
            )
        if vecs is not None and want("mmr_rerank"):
            qset = vecs.filter(F.col("vec_id") % 2000 == 0).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            # stage 1 scores ~100 queries against one corpus scan; the greedy
            # then iterates over <= pool rows per query only
            if METER is not None:
                METER.delta()
            t0 = time.time()
            out = similarity.mmr_rerank(qset, vecs, k=5, pool=50)
            n_out = out.count()
            log("mmr_rerank_100q_k5", time.time() - t0, args.vecs)
            print(json.dumps({"op": "mmr_rerank.selected", "rows": n_out}), flush=True)
        if vecs is not None and (want("knn_label_audit") or want("hard_negatives") or want("prototypicality")):
            lvecs = vecs.withColumn("label", (F.col("vec_id") % 16).cast("int"))
            if want("knn_label_audit"):
                # exact self-kNN is O(N²) by definition — the 200k-scale path
                # is the candidates= route: sign-LSH co-bucket pairs (both
                # directions), then per-anchor top-k over candidates only
                sig = similarity.hyperplane_signature(F.col("embedding"), 64, 14, seed=7)
                bucketed = lvecs.select("vec_id", sig.alias("bucket"))
                cands = (
                    bucketed.alias("x")
                    .join(bucketed.alias("y"), "bucket")
                    .filter(F.col("x.vec_id") != F.col("y.vec_id"))
                    .select(F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b"))
                )
                if METER is not None:
                    METER.delta()
                t0 = time.time()
                out = similarity.knn_label_consistency(lvecs, k=10, candidates=cands)
                n_suspect = out.filter(F.col("suspect")).count()
                log("knn_label_audit_lsh_candidates", time.time() - t0, args.vecs)
                print(json.dumps({"op": "knn_label_audit.suspects", "rows": n_suspect}), flush=True)
            if want("hard_negatives"):
                anchors = lvecs.filter(F.col("vec_id") % 2000 == 0).select(
                    F.col("vec_id").alias("anchor_id"), "embedding", "label"
                )
                # ~N/2000 anchors broadcast against one corpus scan — the
                # same shape as cosine_topk_100q plus the label filter
                timed("hard_negatives_100a", similarity.hard_negatives(anchors, lvecs, k=10), args.vecs)
            if want("prototypicality"):
                # one |labels|×dim aggregate + broadcast join + per-label window
                timed("prototypicality", similarity.prototypicality(lvecs), args.vecs)

    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
