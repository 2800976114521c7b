"""The benchmark's workloads.

Each workload is a function ``(run) -> None`` that prepares its inputs,
times a closed loop of requests (one client; the next request is sent
only after the previous reply) for ``run.seconds``, and checks the
program's outputs. Everything is reached through the package's public
functions; what a request is differs per workload:

- ``serve_hot``: one ``serve_features(uid)`` with ``version=None``;
- ``publish``: one extract → register → first serve → cleanup → list cycle;
- ``curate``: one full curation chain over documents and embeddings.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import numpy as np

import gen
from layers import CURATE_STAGES
from stats import summary
from spans import Tracer

#: Ready-for-requests set-up steps repeated per run; setup_s takes their median.
SETUP_REPS = 3
#: Timed requests per run at the least. ``run_seconds`` in BENCHMARK.json
#: is shorter than these take even on a quiet host, so every run times
#: the same number of requests whatever the host load: a run that fits
#: one more request on a quiet host would report a different median.
#: Two publish cycles and one curate chain are what the run budget leaves
#: room for (README, "Run budget").
MIN_REQUESTS = {"publish": 2, "curate": 1, "serve_hot": 2}
KEEP_N = 3
#: Zipf-keyed serves of the new version in each publish cycle. A hot serve
#: (version resolution + dict hit) takes 0.07-0.2 s and the rest of a
#: cycle 4-10 s, so reads are about a sixth of a cycle: a doubling of the
#: write path crosses the 0.25 bound in BENCHMARK.json, one of the read
#: path alone does not (README, "Sizes"). More serves would leave time for
#: fewer cycles in a run.
HOT_SERVES = 10
#: Curate inputs: a quarter of the rows of the sf0.1 ``documents`` (5 000)
#: and ``embeddings`` (2 000) tables, planted duplicates included. Larger
#: inputs do not fit a run's share of the time budget (README, "Sizes").
CURATE_DOCS, CURATE_EXACT, CURATE_NEAR = 1_150, 50, 50
CURATE_VECS, CURATE_TWINS = 475, 25
#: Curate filter parameters, shared by the chain and its checks.
QUALITY = {"min_score": 0.3, "min_words": 10, "min_stopword_hits": 1}
NEAR_THRESHOLD = 0.3


class Run:
    """Shared state of one benchmark run: timing, failures, checks, spans."""

    def __init__(self, spark, *, seed: int, seconds: float, trace: bool, work: str, scale: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.scale = scale
        self.tracer = Tracer(spark.sparkContext)
        self.tracer.enabled = trace
        self.tracer.request = "setup"
        self.attempted = 0
        self.failed = 0
        self.failures: Counter = Counter()
        self.checks: list[tuple[str, bool, str]] = []
        self.latency: list[float] = []  # seconds of each completed timed request
        self.prep_s = 0.0  # one-shot program-side set-up
        self.ready_s: list[float] = []  # repeated ready-for-requests steps
        self.report: dict[str, tuple[float, str, int | None]] = {}  # human-readable extras
        self.gauges: dict[str, float] = {}

    def n(self, base: int) -> int:
        return max(1, int(base * self.scale))

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def attempt(self, layer: str, fn):
        """Run one operation; an exception counts as a failure of ``layer``
        and returns ``(False, None)`` instead of aborting the run."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # noqa: BLE001 - failures are counted, not fatal
            self.failed += 1
            self.failures[layer] += 1
            print(f"[perfbench] {layer} failed: {type(e).__name__}: {e}"[:500], flush=True)
            return False, None

    def timed_loop(self, request, min_requests: int) -> None:
        """Closed loop for ``self.seconds`` and at least ``min_requests``
        requests. ``request(i)`` performs request i and returns its
        measured seconds (or None if it failed)."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < min_requests or time.perf_counter() < deadline:
            self.tracer.request = i
            with self.tracer.span("request", spark=False):
                secs = request(i)
            if secs is not None:
                self.latency.append(secs)
            i += 1
        self.tracer.request = "verify"

    def request_p50_ms(self) -> float:
        return statistics.median(self.latency) * 1e3 if self.latency else 0.0

    def setup_s(self, session_s: float) -> float:
        return session_s + self.prep_s + statistics.median(self.ready_s)

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.report[name] = (value, unit, n)

    def put_timing(self, prefix: str, values: list[float], unit: str) -> None:
        """Median and tail of ``values`` (seconds) in ``unit`` ('ms' or 's')."""
        scale = 1e3 if unit == "ms" else 1.0
        s = summary(values)
        if s["n"]:
            self.put(f"{prefix}_p50_{unit}", s["p50"] * scale, unit, s["n"])
        if s["tail"] is not None:
            p = f"{s['tail_p']:g}".replace(".", "_")
            self.put(f"{prefix}_p{p}_{unit}", s["tail"] * scale, unit, s["n"])


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _install_store_tracing(run: Run) -> None:
    """Wrap the store-side public entry points (traced runs only)."""
    from ml_feature_store_pipeline_spark import cache, extractors, monitor, quality, store

    t = run.tracer
    S = store.FeatureStore
    t.wrap(S, "register_features", "store.register_features")
    t.wrap(S, "serve_features", "store.serve_features")
    t.wrap(S, "latest_version", "store.latest_version")
    t.wrap(S, "get_features", "store.get_features")
    t.wrap(S, "cleanup_old_versions", "store.cleanup_old_versions")
    t.wrap(quality.DataQualityValidator, "validate", "quality.validate")
    t.wrap(extractors.UserEventExtractor, "extract", "extractors.extract", spark=False)
    # store.py imports these by name, so they are patched where it looks them up
    t.wrap(store, "content_version", "versioning.content_version")
    t.wrap(store, "atomic_overwrite_parquet", "writers.atomic_overwrite_parquet")
    t.wrap(store, "drop_partition_dirs", "writers.drop_partition_dirs", spark=False)
    # hit or miss of a serving-index lookup; the "_too_big" negative-cache
    # probe that follows each index miss is neither
    t.wrap(cache.InMemoryTTLCache, "get", "cache.get", spark=False, result=_index_lookup)
    for name in ("log_feature_access", "log_feature_creation"):
        t.wrap(monitor.FeatureMonitor, name, "monitor.log", spark=False)


def _index_lookup(value, cache, key, *args, **kwargs) -> bool | None:
    return None if key.endswith("_too_big") else value is not None


def _metadata(extractor, batch: int):
    from ml_feature_store_pipeline_spark.config import FeatureMetadata

    return FeatureMetadata(
        description=f"benchmark event batch {batch}",
        features_config=extractor.get_feature_configs(),
        lineage={"source": "perfbench.gen.make_events", "batch": str(batch)},
        tags=["perfbench"],
    )


def _version_gauges(run: Run, store_path: str, version: str, n_rows: int) -> None:
    nbytes, files = gen.dir_bytes_and_files(
        os.path.join(store_path, "features", f"feature_version={version}")
    )
    run.gauges["store.files_per_version"] = files
    run.gauges["store.bytes_per_version"] = nbytes
    run.put("store_bytes_per_row", nbytes / n_rows, "B/row")


def _verify_version(
    run: Run, store, version: str, expected: dict, sample: list[int], *, serve: bool = True
) -> None:
    """Offline row count = distinct users; offline read = numpy
    recomputation for the sampled users, and (with ``serve``) served rows
    equal both."""
    from ml_feature_store_pipeline_spark.store import FeatureStore

    ok, n = run.attempt("store", lambda: store.get_features(version, use_cache=False).count())
    run.check(f"rows({version[:8]})=users", ok and n == len(expected), f"{n} rows, {len(expected)} users")
    ok, rows = run.attempt(
        "store", lambda: store.get_features(version, user_ids=sample, use_cache=False).collect()
    )
    offline = {int(r["user_id"]): FeatureStore._serving_dict(r) for r in rows or []}
    bad = [
        u
        for u in sample
        if not (
            u in offline
            and gen.rows_match(offline[u], expected[u])
            and (not serve or gen.rows_match(store.serve_features(u, version=version), offline[u]))
        )
    ]
    what = "served=offline=numpy" if serve else "offline=numpy"
    run.check(f"{what}({version[:8]})", ok and not bad, f"mismatched users {bad[:5]}")


# ----------------------------------------------------------------- serve_hot
def serve_hot(run: Run) -> None:
    """One version registered and its serving index warmed in set-up; the
    timed phase is single-entity ``serve_features(uid)`` with the default
    ``version=None`` on Zipf-skewed keys."""
    from ml_feature_store_pipeline_spark.extractors import UserEventExtractor
    from ml_feature_store_pipeline_spark.store import FeatureStore

    n_users, n_events = run.n(10_000), run.n(100_000)
    src = os.path.join(run.work, "events_0.parquet")
    store_path = os.path.join(run.work, "store")
    ev = gen.make_events(run.seed, 0, n_users, n_events)
    gen.write_events(ev, src)
    expected = gen.expected_features(ev)
    keys = gen.zipf_keys(run.seed, np.arange(n_users), 200_000).tolist()
    if run.trace:
        _install_store_tracing(run)

    ex = UserEventExtractor()
    t0 = time.perf_counter()
    store = FeatureStore(run.spark, store_path)
    version = store.register_features(ex.extract(run.spark.read.parquet(src)), _metadata(ex, 0))
    run.prep_s = time.perf_counter() - t0
    for r in range(SETUP_REPS):  # a fresh store object: resolve latest + build the index
        store, secs = _timed(lambda: _open_and_warm(run.spark, store_path, keys[0]))
        run.ready_s.append(secs)
    _version_gauges(run, store_path, version, n_users)

    wrong: list[int] = []

    def request(i: int):
        uid = int(keys[i % len(keys)])
        t = time.perf_counter()
        ok, row = run.attempt("store", lambda: store.serve_features(uid))
        secs = time.perf_counter() - t
        if ok and not gen.rows_match(row, expected[uid]):
            wrong.append(uid)
        return secs if ok else None

    run.timed_loop(request, MIN_REQUESTS["serve_hot"])
    run.check("served=numpy(all requests)", not wrong, f"{len(wrong)} wrong, e.g. {wrong[:5]}")
    ok, latest = run.attempt("store", store.latest_version)
    run.check("latest_version=registered", ok and latest == version, f"{latest} vs {version}")
    sample = sorted(set(int(k) for k in keys[:500]))[:50]
    _verify_version(run, store, version, expected, sample)
    run.put_timing("serve", run.latency, "ms")


def _open_and_warm(spark, store_path: str, uid: int):
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, store_path)
    store.serve_features(int(uid))
    return store


# ------------------------------------------------------------------- publish
def publish(run: Run) -> None:
    """Repeated publish cycles, each on its own event batch (so every
    registration has distinct content): extract → register → first serve
    of the new version (the index rebuild: freshness) → ``HOT_SERVES``
    Zipf-keyed serves with ``version=None`` (reads next to writes) →
    cleanup(keep_n=3) → list."""
    from ml_feature_store_pipeline_spark.extractors import UserEventExtractor
    from ml_feature_store_pipeline_spark.sources.writers import list_partition_values
    from ml_feature_store_pipeline_spark.store import FeatureStore

    n_users, n_events = run.n(10_000), run.n(100_000)
    store_path = os.path.join(run.work, "store")
    keys = gen.zipf_keys(run.seed, np.arange(n_users), 100_000).tolist()
    batches: list[tuple[str, dict]] = []

    def batch(b: int) -> tuple[str, dict]:
        while len(batches) <= b:  # generated outside any timed interval
            ev = gen.make_events(run.seed, len(batches), n_users, n_events)
            path = os.path.join(run.work, f"events_{len(batches)}.parquet")
            gen.write_events(ev, path)
            batches.append((path, gen.expected_features(ev)))
        return batches[b]

    # Set-up registers keep_n - 1 versions, the first of them JVM-cold
    # (class loading, code generation), so the second timed cycle finds
    # keep_n versions and its cleanup drops one. The ready steps below
    # warm the serving path.
    first = KEEP_N - 1
    for b in range(first + MIN_REQUESTS["publish"]):
        batch(b)
    if run.trace:
        _install_store_tracing(run)

    pub = _Publisher(run, UserEventExtractor(), keys)
    t0 = time.perf_counter()
    store = FeatureStore(run.spark, store_path)
    for b in range(first):
        pub.register(store, b, batch(b)[0])
    run.prep_s = time.perf_counter() - t0
    for r in range(SETUP_REPS):  # fresh store objects; the cycles keep ``store``
        run.ready_s.append(_timed(lambda: _open_and_warm(run.spark, store_path, keys[0]))[1])

    run.timed_loop(lambda i: pub.cycle(store, first + i, *batch(first + i)), MIN_REQUESTS["publish"])

    versions = pub.versions
    n_parts = len(list_partition_values(store.features_path, "feature_version"))
    run.check("partitions=keep_n", n_parts == min(KEEP_N, len(versions)), f"{n_parts} partitions")
    run.check("distinct versions", len(set(versions)) == len(versions), f"{versions}")
    for b, v in list(enumerate(versions))[-KEEP_N:]:
        sample = sorted(set(gen.rng_for(run.seed, 6, b).integers(0, n_users, 40).tolist()))
        # the serving index is only warm for the newest version
        _verify_version(run, store, v, batches[b][1], sample, serve=v == versions[-1])
    _version_gauges(run, store_path, versions[-1], n_users)
    run.put_timing("cycle", run.latency, "s")
    for name, values in pub.parts.items():
        run.put_timing(name, values, "ms" if name == "serve" else "s")



class _Publisher:
    """Registers versions and runs publish cycles, keeping the cycles'
    step timings."""

    def __init__(self, run: Run, extractor, keys: list[int]) -> None:
        self.run = run
        self.ex = extractor
        self.keys = keys
        self.versions: list[str] = []
        self.parts: dict[str, list[float]] = {"publish": [], "publish_to_serve": [], "serve": []}
        self.wrong: list[int] = []

    def register(self, store, b: int, path: str):
        """Extract and register batch ``b``; the new version, or None if a
        step failed."""
        run = self.run
        ok, feats = run.attempt("extractors", lambda: self.ex.extract(run.spark.read.parquet(path)))
        if not ok:
            return None
        ok, v = run.attempt("store", lambda: store.register_features(feats, _metadata(self.ex, b)))
        if not ok:
            return None
        self.versions.append(v)
        return v

    def cycle(self, store, b: int, path: str, expected: dict):
        """One cycle on batch ``b``; its seconds, or None if a step failed."""
        run = self.run
        t0 = time.perf_counter()
        v = self.register(store, b, path)
        if v is None:
            return None
        t_pub = time.perf_counter()
        hot = self.keys[(b * (HOT_SERVES + 1)) % len(self.keys) :][: HOT_SERVES + 1]
        ok, row = run.attempt("store", lambda: store.serve_features(int(hot[0])))
        fresh = ok and gen.rows_match(row, expected[int(hot[0])])
        t_fresh = time.perf_counter()
        run.check(f"cycle {b}: first serve is the new version", fresh, f"user {hot[0]}")
        serve_s = []
        for uid in hot[1:]:
            t = time.perf_counter()
            ok_s, row = run.attempt("store", lambda: store.serve_features(int(uid)))
            serve_s.append(time.perf_counter() - t)
            ok = ok and ok_s
            if ok_s and not gen.rows_match(row, expected[int(uid)]):
                self.wrong.append(int(uid))
        run.check(f"cycle {b}: hot serves = numpy", not self.wrong, f"{self.wrong[:5]}")
        ok1, _ = run.attempt("store", lambda: store.cleanup_old_versions(keep_n=KEEP_N))
        ok2, listing = run.attempt("store", store.list_feature_versions)
        t_end = time.perf_counter()
        if ok2:
            names = [d["feature_version"] for d in listing]
            run.check(
                f"cycle {b}: listing",
                len(names) == min(KEEP_N, len(self.versions)) and names[0] == v,
                f"{len(names)} entries",
            )
        if not (ok and ok1 and ok2):
            return None
        self.parts["publish"].append(t_pub - t0)
        self.parts["publish_to_serve"].append(t_fresh - t0)
        self.parts["serve"].extend(serve_s)
        return t_end - t0


# -------------------------------------------------------------------- curate
def curate(run: Run) -> None:
    """The curation chain over generated documents and embeddings with
    planted duplicates; every stage is materialized. The store is not
    touched."""
    from ml_feature_store_pipeline_spark.sources import readers

    data_dir = os.path.join(run.work, "curate")
    os.makedirs(data_dir)
    docs = gen.make_documents(run.seed, run.n(CURATE_DOCS), run.n(CURATE_EXACT), run.n(CURATE_NEAR))
    gen.write_documents(docs, os.path.join(data_dir, "documents.parquet"))
    emb = gen.make_embeddings(run.seed, run.n(CURATE_VECS), run.n(CURATE_TWINS))
    gen.write_embeddings(emb, os.path.join(data_dir, "embeddings.parquet"))
    qids = np.sort(gen.rng_for(run.seed, 7).choice(emb["vec_id"], min(16, len(emb["vec_id"])), replace=False))
    if run.trace:
        run.tracer.wrap(readers, "read_table", "readers.read_table")

    # One untimed, JVM-cold chain on the full inputs (class loading, code
    # generation; 2-3x slower than the next). Warming up on a twentieth of
    # them costs about as much and leaves the first full-size chain slow.
    counts = []  # stage output counts of every chain, warm-up included
    pinned: list = []
    out, run.prep_s = _timed(lambda: _chain(run, data_dir, qids, pinned))
    run.check("warm-up chain", out is not None)
    if out is not None:
        counts.append(tuple(df.count() for df in out))
    _unpersist(pinned)
    for r in range(SETUP_REPS):
        run.ready_s.append(_timed(lambda: _read_inputs(run.spark, data_dir))[1])

    held: list = []  # the stage outputs of the latest chain, checked after the loop
    last: list = []

    def request(i: int):
        _unpersist(held)
        out, secs = _timed(lambda: _chain(run, data_dir, qids, held))
        if out is None:
            return None
        counts.append(tuple(df.count() for df in out))
        last[:] = out
        return secs

    run.timed_loop(request, MIN_REQUESTS["curate"])
    run.check(
        "stage counts identical across chains",
        len(counts) > 1 and all(c == counts[0] for c in counts),
        f"{counts[:3]}",
    )
    if last:
        _verify_curation(run, last, docs, emb, qids)
        print(f"[perfbench] curate stage counts {dict(zip(CURATE_STAGES, counts[-1]))}", flush=True)
    _unpersist(held)
    run.put_timing("curate", run.latency, "s")


def _unpersist(pinned: list) -> None:
    for df in pinned:
        df.unpersist()
    pinned.clear()


def _read_inputs(spark, data_dir: str):
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    d = read_table(spark, data_dir, "documents")
    e = read_table(spark, data_dir, "embeddings")
    return d.count(), e.count()


def _chain(run: Run, data_dir: str, qids: np.ndarray, pinned: list):
    """One curation chain. Returns the materialized stage outputs (pinned
    in ``pinned`` until the caller unpersists them), or None if a stage
    failed."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators import dedup, similarity, text
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    def stage(name, build):
        with run.tracer.span(f"curate.{name}"):
            ok, df = run.attempt("curate", lambda: _materialize(build(), pinned))
        if not ok:
            raise _StageFailed(name)
        return df

    try:
        docs = read_table(run.spark, data_dir, "documents")
        emb = read_table(run.spark, data_dir, "embeddings")

        def quality_filter():
            q = text.quality_score(docs, "doc_id", "text")
            q = q.filter(F.col("quality_score") >= QUALITY["min_score"])
            g = text.gopher_rules(
                docs,
                "doc_id",
                "text",
                min_words=QUALITY["min_words"],
                min_stopword_hits=QUALITY["min_stopword_hits"],
            )
            return (
                docs.join(q.select("doc_id"), "doc_id")
                .join(g.filter(F.col("keep")).select("doc_id"), "doc_id")
                .select("doc_id", "text")
            )

        filtered = stage("quality_filter", quality_filter)
        exact = stage("exact_dedup", lambda: dedup.exact_dedup(filtered, ["text"], "doc_id"))

        def near_dup():
            pairs = dedup.ngram_jaccard_pairs(exact, "doc_id", "text", threshold=NEAR_THRESHOLD)
            return dedup.dedup_survivors(exact, pairs, "doc_id")

        near = stage("near_dup", near_dup)
        sem = stage(
            "semantic_dedup", lambda: similarity.semantic_dedup(emb, threshold=0.9, n_cells=8)
        )

        def cosine_topk():
            corpus = emb.join(sem.select("vec_id"), "vec_id")
            queries = emb.filter(F.col("vec_id").isin([int(q) for q in qids])).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            return similarity.cosine_topk(queries, corpus, k=10)

        topk = stage("cosine_topk", cosine_topk)
        return filtered, exact, near, sem, topk
    except _StageFailed:
        return None


class _StageFailed(Exception):
    pass


def _materialize(df, pinned: list):
    """Persist and count: the stage's output is computed once, here."""
    df = df.persist()
    pinned.append(df)
    df.count()
    return df


def _verify_curation(run: Run, frames, docs: dict, emb: dict, qids: np.ndarray) -> None:
    filtered, exact, near, sem, topk = frames
    out = {
        "filtered": [(r[0], r[1]) for r in filtered.collect()],
        "exact": sorted(r[0] for r in exact.select("doc_id").collect()),
        "near": sorted(r[0] for r in near.select("doc_id").collect()),
        "sem_rows": sem.select("vec_id", "cell").collect(),
        "topk": [tuple(r) for r in topk.collect()],
    }
    # quality filter: the kept ids are exactly those of a Python recomputation
    texts = dict(zip(docs["doc_id"].tolist(), docs["text"]))
    got = sorted(i for i, _ in out["filtered"])
    want = sorted(i for i, t in texts.items() if gen.passes_quality(t, **QUALITY))
    run.check("quality filter = Python", got == want, f"{len(got)} vs {len(want)} kept")
    # exact dedup: survivors are the min id per distinct filtered text
    min_id: dict[str, int] = {}
    for i, t in out["filtered"]:
        min_id[t] = min(i, min_id.get(t, i))
    want = sorted(min_id.values())
    run.check("exact_dedup = min id per distinct text", out["exact"] == want, f"{len(out['exact'])} vs {len(want)}")
    left = set(out["exact"]) & set(docs["exact_ids"].tolist())
    run.check("every planted exact duplicate removed", not left, f"{sorted(left)[:5]}")
    # near dup: survivors equal a Python word-3-gram Jaccard recomputation,
    # and they are the exact survivors minus exactly the planted near
    # copies whose original survived (random originals never link)
    exact_set = set(out["exact"])
    want = gen.near_dup_survivors(out["exact"], [texts[i] for i in out["exact"]], NEAR_THRESHOLD)
    run.check("near dedup = Python", out["near"] == sorted(want), f"{len(out['near'])} vs {len(want)}")
    planted = {int(c) for c, s in zip(docs["near_ids"], docs["near_src"]) if s in exact_set and c in exact_set}
    removed = exact_set - set(out["near"])
    run.check("near dedup removes exactly the planted copies", removed == planted, f"{len(removed)} vs {len(planted)}")
    # semantic dedup: random vectors are never near each other, so every
    # vector outside a twin pair survives; of a twin pair one survives, or
    # both when they fell into different cells (the SemDeDup trade)
    cell = {int(r[0]): r[1] for r in out["sem_rows"]}
    twins = set(emb["twin_src"].tolist()) | set(emb["twin_ids"].tolist())
    lost = [int(v) for v in emb["vec_id"] if v not in twins and v not in cell]
    run.check("semantic_dedup keeps every non-duplicate", not lost, f"{lost[:5]}")
    bad_pairs = [
        (a, b)
        for a, b in zip(emb["twin_src"].tolist(), emb["twin_ids"].tolist())
        if (a not in cell and b not in cell) or (a in cell and b in cell and cell[a] == cell[b])
    ]
    run.check("semantic_dedup collapses each in-cell twin pair", not bad_pairs, f"{bad_pairs[:5]}")
    # cosine top-k equals a numpy recomputation over the same survivors
    ids = np.array(sorted(cell), dtype=np.int64)
    want_topk = gen.topk_cosine(emb["embedding"][qids], qids, emb["embedding"][ids], ids, 10)
    got: dict[int, list] = {}
    for q, c, cos, rank in sorted(out["topk"], key=lambda r: (r[0], r[3])):
        got.setdefault(q, []).append((c, cos))
    bad = [
        q
        for q, w in want_topk.items()
        if len(got.get(q, [])) != len(w)
        or any(abs(gc - wc) > 1e-6 for (_, gc), (_, wc) in zip(got[q], w))
        or got[q][0][0] != w[0][0]
    ]
    run.check("cosine_topk = numpy", not bad, f"queries {bad[:5]}")


WORKLOADS = {"publish": publish, "curate": curate, "serve_hot": serve_hot}
