import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen


def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(np.array_equal(np.asarray(a[k]), np.asarray(b[k])) for k in a)


def test_events_are_deterministic_per_seed_and_batch():
    a = gen.make_events(3, 0, 50, 400)
    assert _same(a, gen.make_events(3, 0, 50, 400))
    assert not _same(a, gen.make_events(4, 0, 50, 400))
    assert not _same(a, gen.make_events(3, 1, 50, 400))


def test_every_user_appears_in_every_batch():
    ev = gen.make_events(1, 2, 300, 1000)
    assert set(ev["user_id"].tolist()) == set(range(300))


def test_expected_features_match_a_pandas_recomputation():
    ev = gen.make_events(5, 0, 40, 600)
    df = pd.DataFrame(ev)
    want = gen.expected_features(ev)
    for uid, g in df.groupby("user_id"):
        pos = g.amount[g.amount > 0]
        span_s = g.ts_us.max() // 1_000_000 - g.ts_us.min() // 1_000_000
        days = span_s // 86_400 + 1
        row = want[uid]
        assert row["total_events"] == len(g)
        assert row["total_purchases"] == len(pos)
        assert row["total_amount"] == pytest.approx(g.amount.sum())
        assert row["avg_amount"] == pytest.approx(pos.mean() if len(pos) else 0.0)
        assert row["unique_event_types"] == g.code.nunique()
        assert row["days_active"] == days
        assert row["last_event_time"] == dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(g.ts_us.max()))
        assert row["avg_events_per_day"] == pytest.approx(len(g) / days)


def test_events_parquet_has_utc_microsecond_timestamps(tmp_path):
    path = str(tmp_path / "ev.parquet")
    gen.write_events(gen.make_events(1, 0, 10, 50), path)
    assert pq.read_schema(path).field("timestamp").type == pa.timestamp("us", tz="UTC")


def test_rows_match_tolerates_float_order_only():
    a = {"k": 1, "x": 0.1 + 0.2}
    assert gen.rows_match(a, {"k": 1, "x": 0.3})
    assert not gen.rows_match(a, {"k": 2, "x": 0.3})
    assert not gen.rows_match(a, {"k": 1, "x": 0.31})
    assert not gen.rows_match(a, {"k": 1})


def test_zipf_keys_are_deterministic_and_skewed():
    users = np.arange(1000)
    k = gen.zipf_keys(2, users, 5000)
    assert np.array_equal(k, gen.zipf_keys(2, users, 5000))
    counts = np.bincount(k, minlength=1000)
    assert counts.max() > 20 * np.median(counts[counts > 0])


def test_documents_plant_duplicates_above_the_originals():
    d = gen.make_documents(7, 200, 5, 6)
    assert _same(
        {k: v for k, v in d.items() if k != "text"},
        {k: v for k, v in gen.make_documents(7, 200, 5, 6).items() if k != "text"},
    )
    assert d["text"] == gen.make_documents(7, 200, 5, 6)["text"]
    assert d["text"] != gen.make_documents(8, 200, 5, 6)["text"]
    for c, s in zip(d["exact_ids"], d["exact_src"]):
        assert c > s and d["text"][c] == d["text"][s]
    for c, s in zip(d["near_ids"], d["near_src"]):
        a, b = d["text"][c].split(), d["text"][s].split()
        assert c > s and len(a) == len(b) and sum(x != y for x, y in zip(a, b)) == 1


def test_embedding_twins_are_near_identical_and_deterministic(tmp_path):
    e = gen.make_embeddings(9, 100, 4, dim=16)
    assert _same(e, gen.make_embeddings(9, 100, 4, dim=16))
    v = e["embedding"]
    for c, s in zip(e["twin_ids"], e["twin_src"]):
        cos = v[c] @ v[s] / np.linalg.norm(v[c]) / np.linalg.norm(v[s])
        assert cos > 0.99
    path = str(tmp_path / "emb.parquet")
    gen.write_embeddings(e, path)
    back = pq.read_table(path)
    assert np.allclose(np.array(back.column("embedding").to_pylist(), dtype=np.float32), v)


def test_topk_cosine_orders_by_similarity_then_id():
    corpus = np.array([[1, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float32)
    out = gen.topk_cosine(np.array([[1, 0]], np.float32), np.array([9]), corpus, np.array([5, 3, 8, 1]), 3)
    assert [c for c, _ in out[9]] == [3, 5, 1]


def test_quality_recomputation_keeps_prose_and_drops_junk():
    q = {"min_score": 0.3, "min_words": 10, "min_stopword_hits": 1}
    prose = "the spark table is a feature store of user events and the cache serves them"
    assert gen.passes_quality(prose, **q)
    assert not gen.passes_quality("the spark table is short", **q)  # fewer than 10 words
    assert not gen.passes_quality(" ".join(f"{i}#{i}" for i in range(20)), **q)  # digits and symbols
    no_stop = "spark table feature store user events cache serves them quickly every day"
    assert not gen.passes_quality(no_stop, **q)
    assert gen.passes_quality(no_stop, **{**q, "min_stopword_hits": 0})


def test_near_dup_survivors_keep_the_min_id_of_each_linked_cluster():
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    a2 = a.replace("w10", "x")  # 7 of 9 shingles shared with a
    a3 = a2.replace("w1 ", "y ")  # linked to a2, so to a, transitively
    b = "v1 v2 v3 v4 v5 v6"
    assert gen.near_dup_survivors([3, 7, 9, 4], [a, a2, a3, b], 0.5) == {3, 4}
    assert gen.near_dup_survivors([3, 7], [a, a2], 0.9) == {3, 7}


def test_planted_near_copies_link_and_originals_do_not():
    d = gen.make_documents(11, 300, 0, 10)
    ids = d["doc_id"].tolist()
    survivors = gen.near_dup_survivors(ids, d["text"], 0.3)
    long_src = {int(c) for c, s in zip(d["near_ids"], d["near_src"]) if len(d["text"][s].split()) >= 10}
    assert set(ids) - survivors >= long_src
    assert set(ids) - survivors <= set(d["near_ids"].tolist())
