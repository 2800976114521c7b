"""Seeded input generator for the benchmark.

Everything the program reads is written here from a seed with numpy and
pyarrow, so the library's own ``generator.py`` never shapes a workload.
The module imports neither pyspark nor the package under test: the
expected feature values it computes are an independent recomputation of
the extractor's C1-C8 semantics, used to check what the store serves.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "search", "add_to_cart"])
_EVENT_P = np.array([0.35, 0.30, 0.10, 0.15, 0.10])
_EPOCH_US = 1_672_531_200_000_000  # 2023-01-01T00:00:00Z
_SPAN_US = 30 * 86_400 * 1_000_000


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


# --------------------------------------------------------------------- events
def make_events(seed: int, batch: int, n_users: int, n_events: int) -> dict[str, np.ndarray]:
    """One event batch. Every user 0..n_users-1 gets at least one event, so
    a batch's distinct-user count is exactly ``n_users``; batches with
    different ``batch`` numbers differ in content (and so in version hash)."""
    rng = rng_for(seed, 1, batch)
    extra = rng.integers(0, n_users, n_events - n_users)
    uid = np.concatenate([np.arange(n_users), extra]).astype(np.int64)
    uid = uid[rng.permutation(n_events)]
    code = rng.choice(len(EVENT_TYPES), n_events, p=_EVENT_P)
    amount = np.zeros(n_events)
    buy = code == 2
    amount[buy] = np.round(rng.gamma(2.0, 30.0, int(buy.sum())) + 0.01, 2)
    # the C2 trap: a few positive amounts on non-purchase events
    stray = (~buy) & (rng.random(n_events) < 0.02)
    amount[stray] = np.round(rng.random(int(stray.sum())) * 10 + 0.01, 2)
    ts = _EPOCH_US + rng.integers(0, _SPAN_US, n_events)
    return {"user_id": uid, "code": code, "amount": amount, "ts_us": ts.astype(np.int64)}


def write_events(ev: dict[str, np.ndarray], path: str) -> None:
    """Parquet with UTC-adjusted ``timestamp[us]``: a naive pyarrow
    timestamp reads back as timestamp_ntz, which the store's declared
    schema check rejects."""
    table = pa.table(
        {
            "user_id": pa.array(ev["user_id"], pa.int64()),
            "event_type": pa.array(EVENT_TYPES[ev["code"]]),
            "amount": pa.array(ev["amount"], pa.float64()),
            "timestamp": pa.array(ev["ts_us"], pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, path)


def expected_features(ev: dict[str, np.ndarray]) -> dict[int, dict]:
    """numpy recomputation of the per-user features (C1-C8), keyed by
    user id, in the shape ``FeatureStore.serve_features`` returns."""
    order = np.argsort(ev["user_id"], kind="stable")
    uid = ev["user_id"][order]
    amount = ev["amount"][order]
    ts = ev["ts_us"][order]
    code = ev["code"][order]
    users, start, count = np.unique(uid, return_index=True, return_counts=True)
    pos = amount > 0
    n_pos = np.add.reduceat(pos.astype(np.int64), start)
    total = np.add.reduceat(amount, start)
    pos_sum = np.add.reduceat(np.where(pos, amount, 0.0), start)
    last = np.maximum.reduceat(ts, start)
    first = np.minimum.reduceat(ts, start)
    mask = np.bitwise_or.reduceat(np.left_shift(1, code), start)
    n_types = np.array([bin(int(m)).count("1") for m in mask])
    # elapsed whole seconds (unix_timestamp truncation), floored to days, + 1
    days = (last // 1_000_000 - first // 1_000_000) // 86_400 + 1
    out = {}
    for i, u in enumerate(users.tolist()):
        c = int(count[i])
        p = int(n_pos[i])
        d = int(days[i])
        out[u] = {
            "user_id": u,
            "total_events": c,
            "total_purchases": p,
            "total_amount": float(total[i]),
            "avg_amount": float(pos_sum[i] / p) if p else 0.0,
            "last_event_time": us_to_datetime(int(last[i])),
            "first_event_time": us_to_datetime(int(first[i])),
            "unique_event_types": int(n_types[i]),
            "days_active": d,
            "purchase_rate": p / c,
            "avg_events_per_day": c / d,
        }
    return out


def us_to_datetime(us: int) -> dt.datetime:
    """Naive UTC datetime, as pyspark collects a timestamp under TZ=UTC."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


def rows_match(got: dict, want: dict, rel: float = 1e-9) -> bool:
    """Exact on keys, ints and timestamps; relative tolerance on floats
    (Spark and numpy sum in different orders)."""
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(w, float):
            if g is None or abs(g - w) > rel * max(1.0, abs(w)):
                return False
        elif g != w:
            return False
    return True


def zipf_keys(seed: int, users: np.ndarray, n: int, a: float = 1.2) -> np.ndarray:
    """Zipf-skewed request keys: rank r is drawn with p ∝ r^-a and mapped
    to a user through a seeded permutation, so hot keys differ by seed."""
    rng = rng_for(seed, 2)
    ranks = np.arange(1, len(users) + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    hot = users[rng.permutation(len(users))]
    return hot[rng.choice(len(users), n, p=p)]


# ------------------------------------------------------------------ curation
_STOP = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "with", "on", "as", "it", "by"]
_CONTENT = (
    "spark stream table query join window filter scan vector column batch group order "
    "value key merge hash sort partition shuffle feature store version cache serve "
    "index model train data record event user purchase session metric latency "
    "throughput memory disk network cluster driver executor task stage job plan "
    "optimizer schema parquet format encode decode compress sample split label "
    "embedding cosine distance neighbor cluster centroid token text document corpus "
    "quality rule filter dedup shingle jaccard signature bucket bloom sketch count "
    "distinct approximate exact median quantile histogram drift monitor alert audit"
).split()
LANGS = np.array(["en", "en", "en", "de", "fr", "es"])


def make_documents(seed: int, n_docs: int, n_exact: int, n_near: int) -> dict:
    """Documents with planted duplicates. Originals take ids 0..n_docs-1;
    exact copies and near copies (one word substituted) take higher ids,
    so min-id survivor rules always keep the original. About a tenth of
    the originals are junk (digit/symbol runs or too short) for the
    quality filters to drop."""
    rng = rng_for(seed, 3)
    vocab = np.array(_STOP + _CONTENT)
    w = np.concatenate([np.full(len(_STOP), 1.0), 1.0 / np.arange(1, len(_CONTENT) + 1) ** 0.3])
    w /= w.sum()
    texts = []
    for i in range(n_docs):
        n = int(rng.integers(15, 90))
        words = vocab[rng.choice(len(vocab), n, p=w)]
        r = rng.random()
        if r < 0.05:  # digit/symbol junk
            words = np.array([f"{rng.integers(0, 99999)}#{rng.integers(0, 9)}" for _ in range(n)])
        elif r < 0.10:  # too short for the word-count rule
            words = words[: int(rng.integers(2, 8))]
        texts.append(" ".join(words.tolist()))
    originals = rng.choice(n_docs, n_exact + n_near, replace=False)
    exact_src = originals[:n_exact]
    near_src = originals[n_exact:]
    for s in exact_src:
        texts.append(texts[s])
    for s in near_src:
        words = texts[s].split()
        words[int(rng.integers(0, len(words)))] = "zz" + str(int(rng.integers(0, 10**6)))
        texts.append(" ".join(words))
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "exact_ids": ids[n_docs : n_docs + n_exact],
        "exact_src": exact_src.astype(np.int64),
        "near_ids": ids[n_docs + n_exact :],
        "near_src": near_src.astype(np.int64),
    }


def write_documents(docs: dict, path: str) -> None:
    table = pa.table(
        {
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"]),
            "source": pa.array(docs["source"]),
            "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64()),
        }
    )
    pq.write_table(table, path)


#: English stopwords of the quality operators (``text.STOPWORDS["en"]``).
_EN_STOP = frozenset(["the", "a", "and", "of", "to", "in", "is", "it"])
_PUNCT = re.compile(r"[!-/:-@\[-`{-~]")
_DIGIT = re.compile(r"[0-9]")
_SYMBOL = re.compile(r"[#…]|\.\.\.")
_ALPHA = re.compile(r"[A-Za-z]")


def passes_quality(text: str, *, min_score: float, min_words: int, min_stopword_hits: int) -> bool:
    """Python recomputation of the curate quality filter:
    ``text.quality_score >= min_score`` and ``text.gopher_rules(...).keep``
    with the other Gopher thresholds at their defaults."""
    toks = text.split()
    n = len(toks)
    n_chars = max(len(text), 1)
    stop = sum(t.lower() in _EN_STOP for t in toks)
    punct = len(_PUNCT.findall(text)) / n_chars
    digit = len(_DIGIT.findall(text)) / n_chars
    len_score = n / 5.0 if n < 5 else (0.5 if n > 5000 else 1.0)
    score = (
        len_score
        * (1.0 - min(punct * 2, 1.0))
        * (1.0 - min(digit * 2, 1.0))
        * (0.5 + min(stop / max(n, 1) * 2, 0.5))
    )
    mean_wl = sum(len(t) for t in toks) / n if n else 0.0
    gopher = (
        min_words <= n <= 100_000
        and 3.0 <= mean_wl <= 10.0
        and (len(_SYMBOL.findall(text)) / n if n else 0.0) <= 0.1
        and (sum(bool(_ALPHA.search(t)) for t in toks) / n if n else 0.0) >= 0.8
        and stop >= min_stopword_hits
    )
    return round(score, 6) >= min_score and gopher


def near_dup_survivors(ids: list[int], texts: list[str], threshold: float, n: int = 3) -> set[int]:
    """Python recomputation of ``ngram_jaccard_pairs`` + ``dedup_survivors``:
    docs linked by word ``n``-gram Jaccard >= ``threshold`` form clusters
    (transitively); each cluster keeps its minimum id."""
    shingles = {}
    postings: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        w = t.split()
        shingles[i] = {" ".join(w[k : k + n]) for k in range(len(w) - n + 1)}
        for s in shingles[i]:
            postings.setdefault(s, []).append(i)
    parent = {i: i for i in ids}

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    candidates = {(a, b) for p in postings.values() for a in p for b in p if a < b}
    for a, b in candidates:
        inter = len(shingles[a] & shingles[b])
        if inter / (len(shingles[a]) + len(shingles[b]) - inter) >= threshold:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if root(i) == i}


def make_embeddings(seed: int, n_vecs: int, n_twins: int, dim: int = 64) -> dict:
    """Gaussian vectors plus planted near-identical twins (cosine ≈ 0.999)
    that take ids above the originals."""
    rng = rng_for(seed, 4)
    base = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    src = rng.choice(n_vecs, n_twins, replace=False)
    noise = rng.standard_normal((n_twins, dim)).astype(np.float32) * 0.05
    twins = base[src] + noise
    vecs = np.concatenate([base, twins])
    ids = np.arange(len(vecs), dtype=np.int64)
    return {
        "vec_id": ids,
        "embedding": vecs,
        "label": (ids % 10).astype(np.int32),
        "twin_ids": ids[n_vecs:],
        "twin_src": src.astype(np.int64),
    }


def write_embeddings(emb: dict, path: str) -> None:
    vecs = emb["embedding"]
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(emb["vec_id"], pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(emb["label"], pa.int32()),
        }
    )
    pq.write_table(table, path)


def topk_cosine(queries: np.ndarray, qids: np.ndarray, corpus: np.ndarray, cids: np.ndarray, k: int):
    """numpy top-k by cosine, id tiebreak: {query_id: [(corpus_id, cos), ...]}."""
    q = queries.astype(np.float64)
    c = corpus.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    sims = q @ c.T
    out = {}
    for i, qid in enumerate(qids.tolist()):
        order = np.lexsort((cids, -sims[i]))[:k]
        out[qid] = [(int(cids[j]), float(sims[i, j])) for j in order]
    return out


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    """Total bytes and count of parquet data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
