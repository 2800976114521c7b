"""Store lifecycle round-trip tests (SURVEY §5.3): register → get → serve →
metadata → list → cleanup; cache behavior; version-hash determinism (§5.4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.config import FeatureMetadata
from ml_feature_store_pipeline_spark.extractors import UserEventExtractor
from ml_feature_store_pipeline_spark.quality import DataQualityValidator
from ml_feature_store_pipeline_spark.store import FeatureStore
from ml_feature_store_pipeline_spark.versioning import content_version


@pytest.fixture()
def store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "fs"))


@pytest.fixture()
def features(events_frame):
    return UserEventExtractor().extract(events_frame)


def _meta(desc="test features"):
    return FeatureMetadata(description=desc, lineage={"source": "unit-test"}, tags=["t1"])


def test_register_get_roundtrip(store, features):
    version = store.register_features(features, _meta())
    assert len(version) == 32  # md5 hex
    out = store.get_features(version)
    assert out.count() == 5
    # stamped columns present; feature columns intact
    assert "feature_version" in out.columns and "created_at" in out.columns
    got = {r["user_id"]: r["total_events"] for r in out.collect()}
    assert got[1] == 3


def test_get_latest_resolves_newest(store, features):
    v1 = store.register_features(features, _meta("v1"))
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    v2 = store.register_features(more, _meta("v2"))
    assert v1 != v2
    latest = store.get_features()  # no version → latest by created_at
    assert latest.select("feature_version").distinct().collect()[0][0] == v2


def test_user_filter_pushdown(store, features):
    version = store.register_features(features, _meta())
    two = store.get_features(version, user_ids=[1, 3])
    assert sorted(r["user_id"] for r in two.collect()) == [1, 3]


def test_serving_path(store, features):
    store.register_features(features, _meta())
    d = store.serve_features(1)
    assert d["total_events"] == 3
    assert "feature_version" not in d and "created_at" not in d  # B5 drop
    assert store.serve_features(99999) == {}  # unknown entity → {} (`:434-435`)
    # second lookup is a cache hit (no new Spark job needed)
    info_before = store.cache.info()
    store.serve_features(2)
    assert store.cache.info()["hits"] >= info_before["hits"] + 1


def test_serving_size_guard_falls_back_to_pushed_filter(spark, tmp_path, features):
    # Threshold forced below the version size: the driver index must never be
    # built; lookups go through the pushed-filter path and return the SAME
    # dicts the collected index would.
    big = FeatureStore(spark, str(tmp_path / "fs_big"), max_serving_index_rows=2)
    small = FeatureStore(spark, str(tmp_path / "fs_small"))  # default: indexes fine
    big.register_features(features, _meta())
    small.register_features(features, _meta())
    for uid in (1, 2, 99999):
        assert big.serve_features(uid) == small.serve_features(uid)
    # no index ever appears under the hood
    assert all("_serving_index" not in k for k in getattr(big.cache, "_data", {}))


def test_metadata_roundtrip(store, features):
    meta = _meta("metadata round trip")
    meta.tags = ["a", "b"]
    version = store.register_features(features, meta)
    back = store.get_feature_metadata(version)
    assert back is not None
    assert back.description == "metadata round trip"
    assert back.lineage == {"source": "unit-test"}
    assert back.tags == ["a", "b"]
    assert back.data_quality_metrics is not None
    assert 0.0 <= back.data_quality_metrics.overall_score <= 1.0
    assert store.get_feature_metadata("nonexistent") is None


def test_list_versions_newest_first(store, features):
    store.register_features(features, _meta("first"))
    store.register_features(
        features.withColumn("total_amount", F.col("total_amount") * 2), _meta("second")
    )
    listing = store.list_feature_versions()
    assert [v["description"] for v in listing] == ["second", "first"]
    assert all("quality_score" in v for v in listing)


def test_cleanup_keeps_newest_n(store, features):
    from ml_feature_store_pipeline_spark.cache import cache_key

    versions = []
    for i in range(4):
        df = features.withColumn("total_amount", F.col("total_amount") + i)
        versions.append(store.register_features(df, _meta(f"v{i}")))
    assert store.serve_features(1, version=versions[0])["total_events"] == 3
    doomed = store.cleanup_old_versions(keep_n=2)
    assert set(doomed) == set(versions[:2])
    remaining = [v["feature_version"] for v in store.list_feature_versions()]
    assert remaining == [versions[3], versions[2]]
    # physical partition dirs gone
    for v in doomed:
        assert not os.path.isdir(os.path.join(store.features_path, f"feature_version={v}"))
    # surviving data still readable
    assert store.get_features(versions[3]).count() == 5
    # the served-then-dropped version's serving index is gone
    assert store.cache.get(cache_key(versions[0]) + "_serving_index") is None


def test_version_hash_order_insensitive(spark, features):
    """§5.4 determinism: repartition/shuffle must not change the version id —
    a stronger guarantee than the reference's row-order-sensitive md5 (H1)."""
    v_a = content_version(features)
    v_b = content_version(features.repartition(7))
    v_c = content_version(features.orderBy(F.desc("user_id")))
    assert v_a == v_b == v_c
    changed = features.withColumn("total_amount", F.col("total_amount") + 0.001)
    assert content_version(changed) != v_a


def test_register_identical_content_is_idempotent_version(store, features):
    v1 = store.register_features(features, _meta("one"))
    v2 = store.register_features(features, _meta("two"))
    assert v1 == v2  # content-addressed: same content ⇒ same id
    # the second call wrote no second copy of the rows, and no metadata
    assert store.get_features(v1).count() == features.select("user_id").distinct().count()
    assert [v["description"] for v in store.list_feature_versions()] == ["one"]


def test_dashboard_shape(store, features):
    store.register_features(features, _meta())
    store.serve_features(1)
    dash = store.get_monitoring_dashboard()
    assert set(dash) == {"metrics", "alerts", "cache_info", "store_path", "partitions"}
    assert dash["metrics"]["total_creations"] == 1
    assert len(dash["partitions"]) == 1


def test_register_enforces_declared_schema(store, features):
    """SURVEY §1.3: declared configs are validated against the actual schema —
    strictly more checking than the reference's trusted inserts."""
    from ml_feature_store_pipeline_spark.config import FeatureConfig

    meta = _meta("schema check")
    meta.features_config = [
        FeatureConfig("total_events", "int64"),
        FeatureConfig("no_such_column", "float64"),
    ]
    with pytest.raises(ValueError, match="no_such_column"):
        store.register_features(features, meta)
    # wrong dtype also rejected
    meta.features_config = [FeatureConfig("total_events", "float64")]
    with pytest.raises(ValueError, match="total_events"):
        store.register_features(features, meta)
    # matching declaration (or opting out) registers fine
    meta.features_config = [FeatureConfig("total_events", "int64")]
    assert store.register_features(features, meta)
    meta.features_config = [FeatureConfig("no_such_column", "float64")]
    assert store.register_features(features, meta, enforce_schema=False)


def test_yaml_config_roundtrip(tmp_path):
    """A10: create_advanced_config writes the reference's YAML shape and
    load_config reads it back structurally intact."""
    from ml_feature_store_pipeline_spark.config import create_advanced_config, load_config

    p = str(tmp_path / "cfg.yaml")
    written = create_advanced_config(p)
    assert written == p
    cfg = load_config(p)
    assert isinstance(cfg, dict) and cfg
    # the reference's documented knobs survive the round-trip
    flat = str(cfg)
    assert "cache" in flat and "quality" in flat


def test_time_travel_read(spark, tmp_path, features):
    import time as _time

    store = FeatureStore(spark, str(tmp_path / "fs"))
    v1 = store.register_features(features, _meta("v1"))
    between = max(v["created_at"] for v in store.list_feature_versions())
    _time.sleep(1.1)  # created_at has second resolution
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    v2 = store.register_features(more, _meta("v2"))

    # as-of between the two registrations resolves v1; now resolves v2
    assert store.version_as_of(between) == v1
    got = store.get_features(as_of=between)
    assert got.select("feature_version").distinct().collect()[0][0] == v1
    assert store.get_features().select("feature_version").distinct().collect()[0][0] == v2
    # before any version: explicit error, not silent latest
    with pytest.raises(ValueError):
        store.get_features(as_of="1970-01-01T00:00:00")
    with pytest.raises(ValueError):
        store.get_features(version=v1, as_of=between)


def test_merge_features_creates_corrected_version(store, features):
    v1 = store.register_features(features, _meta("base"))
    base = store.get_features(v1)
    # correction batch: fix user 1's total_amount, drop user 2, add user 99
    row1 = base.filter(F.col("user_id") == 1).drop("feature_version", "created_at")
    changes = (
        row1.withColumn("total_amount", F.lit(123.45))
        .withColumn("op", F.lit("upsert"))
        .unionByName(
            base.filter(F.col("user_id") == 2)
            .drop("feature_version", "created_at")
            .withColumn("op", F.lit("delete"))
        )
        .unionByName(
            row1.withColumn("user_id", F.lit(99)).withColumn("op", F.lit("upsert"))
        )
    )
    v2 = store.merge_features(changes, base_version=v1)
    assert v2 != v1

    merged = {r["user_id"]: r["total_amount"] for r in store.get_features(v2).collect()}
    assert merged[1] == 123.45
    assert merged[99] == 40.0  # inserted row carries user 1's ORIGINAL amount
    assert 2 not in merged
    # untouched users carried over; base version still intact
    assert set(merged) == ({r["user_id"] for r in base.collect()} - {2}) | {99}
    assert store.get_features(v1).count() == 5
    # lineage records the derivation
    meta = store.get_feature_metadata(v2)
    assert meta.lineage["base_version"] == v1
    assert meta.lineage["derived_by"] == "cdc_merge"
    # latest now resolves to the corrected version
    assert store.latest_version() == v2


def test_diff_versions_recovers_the_correction(store, features):
    v1 = store.register_features(features, _meta("base"))
    row1 = (
        store.get_features(v1).filter(F.col("user_id") == 1)
        .drop("feature_version", "created_at")
    )
    changes = row1.withColumn("total_amount", F.lit(77.0)).withColumn("op", F.lit("upsert"))
    v2 = store.merge_features(changes, base_version=v1)
    diff = store.diff_versions(v1, v2).collect()
    assert len(diff) == 1
    assert diff[0]["user_id"] == 1 and diff[0]["op"] == "upsert"
    assert diff[0]["total_amount"] == 77.0


def test_serving_parity_audit(spark, tmp_path):
    """r5: the online/offline consistency audit passes on a healthy store,
    checks a bounded deterministic sample, and catches a poisoned cache."""
    store = FeatureStore(spark, str(tmp_path / "fs_parity"))
    df = spark.createDataFrame(
        [(i, float(i) * 2, f"u{i}") for i in range(25)],
        "user_id long, spend double, tag string",
    )
    version = store.register_features(df, _meta("parity check fixture"))

    report = store.validate_serving_parity(version, sample_size=10)
    assert report["version"] == version
    assert report["checked"] == 10
    assert report["mismatches"] == []

    # poison the serving index for one sampled user: the audit must flag it
    from ml_feature_store_pipeline_spark.cache import cache_key

    key = cache_key(version) + "_serving_index"
    index = store.cache.get(key)
    assert index, "serving path should have built the cached index"
    victim = sorted(index)[0]
    index[victim] = {**index[victim], "spend": -1.0}
    store.cache.set(key, index)
    # resample the SAME deterministic keys; only flag if victim is sampled
    report2 = store.validate_serving_parity(version, sample_size=25)
    assert victim in report2["mismatches"]


def test_serving_parity_audit_detects_stale_cache_epoch(spark, tmp_path):
    """r7 verdict item 7 — the stale-cache epoch. The reference's TTL
    cache serves a version's frames for up to 3600 s after a NEWER
    version registers (reference `ML Feature Store Pipeline.py:350,412`:
    cached reads are keyed without latest-resolution and expire only by
    TTL). This store's staleness SLA is ZERO for latest-serving: the
    serving index is VERSION-scoped and latest_version() is never
    cached, so a new registration is served immediately even while the
    old version's index is live in the cache. Prove the SLA, then
    simulate the reference's failure mode (the old index smuggled under
    the new version's key — what any non-version-scoped cache does) and
    show the parity audit detects and quantifies that epoch."""
    from ml_feature_store_pipeline_spark.cache import cache_key

    store = FeatureStore(spark, str(tmp_path / "fs_stale"))
    df1 = spark.createDataFrame(
        [(i, float(i) + 1.0) for i in range(20)], "user_id long, spend double"
    )
    v1 = store.register_features(df1, _meta("epoch v1"))
    assert store.serve_features(3)["spend"] == 4.0  # builds + caches v1 index

    df2 = spark.createDataFrame(
        [(i, (float(i) + 1.0) * 10) for i in range(20)], "user_id long, spend double"
    )
    v2 = store.register_features(df2, _meta("epoch v2"))

    # zero-staleness SLA: latest serving reflects v2 IMMEDIATELY, even
    # though v1's index is still live in the cache (TTL 3600 untouched)
    assert store.serve_features(3)["spend"] == 40.0
    assert store.cache.get(cache_key(v1) + "_serving_index") is not None
    report = store.validate_serving_parity(sample_size=10)  # audits latest
    assert report["version"] == v2 and report["mismatches"] == []

    # the reference's stale epoch, reproduced: v1 bytes under v2's key
    stale = store.cache.get(cache_key(v1) + "_serving_index")
    store.cache.set(cache_key(v2) + "_serving_index", stale)
    report2 = store.validate_serving_parity(sample_size=20)
    # every sampled entity serves version-v1 bytes → the audit quantifies
    # the epoch as a full-sample mismatch, not a silent pass
    assert report2["version"] == v2
    assert len(report2["mismatches"]) == report2["checked"] == 20


def test_reused_metadata_object_does_not_freeze_latest_version(spark, tmp_path):
    """r9 demo-caught bug: register_features stamped created_at by MUTATING
    the caller's FeatureMetadata, so a reused object carried the FIRST
    registration's timestamp into every later call and latest_version()
    could keep resolving to the superseded version — the staleness mode
    this store claims a zero window for. The caller's object must stay
    unmutated and each implicit stamp must be per-registration."""
    from ml_feature_store_pipeline_spark.config import FeatureMetadata
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"))
    meta = FeatureMetadata(description="reused across registrations")
    f1 = spark.createDataFrame([(1, 10.0)], "user_id long, x double")
    f2 = spark.createDataFrame([(1, 99.0), (2, 7.0)], "user_id long, x double")
    v1 = store.register_features(f1, meta)
    v2 = store.register_features(f2, meta)
    assert v1 != v2
    # the caller's object was not mutated by either call
    assert meta.feature_version == "" and meta.created_at == ""
    assert store.latest_version() == v2
    # and the serving path reflects v2 immediately (zero-staleness SLA)
    assert store.serve_features(1)["x"] == 99.0
    # stored stamps are per-registration, strictly ordered
    rows = {r["feature_version"]: r["created_at"] for r in store.list_feature_versions()}
    assert rows[v2] >= rows[v1]


def test_backfill_created_at_stamps_rows_and_metadata_identically(spark, tmp_path):
    """r9 review: an explicitly pre-set (backfill) created_at was honored
    by the metadata copy but the feature ROWS got fresh wall-clock stamps,
    so version_as_of() time-traveled to rows self-describing a different
    creation time. One stamp must serve both."""
    from ml_feature_store_pipeline_spark.config import FeatureMetadata
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"))
    back = "2023-06-01T00:00:00"
    v = store.register_features(
        spark.createDataFrame([(1, 5.0)], "user_id long, x double"),
        FeatureMetadata(description="backfill", created_at=back),
    )
    meta_stamp = {
        r["feature_version"]: r["created_at"] for r in store.list_feature_versions()
    }[v]
    assert meta_stamp == back
    rows = store.get_features(v, use_cache=False).collect()
    # get_features drops bookkeeping columns in some paths; read raw
    raw = spark.read.parquet(str(tmp_path / "store" / "features")).filter(
        f"feature_version = '{v}'"
    ).collect()
    assert {r["created_at"] for r in raw} == {back}
    assert store.version_as_of("2023-07-01T00:00:00") == v


def test_cache_hit_serve_of_latest_runs_no_spark_job(jobs_run_by, store, features):
    store.register_features(features, _meta())
    assert store.serve_features(1)["total_events"] == 3  # builds the index
    row, jobs = jobs_run_by(lambda: store.serve_features(2))
    assert row["total_events"] == 2
    assert jobs == 0


def test_second_store_sees_a_newer_registration_at_once(spark, jobs_run_by, tmp_path, features):
    path = str(tmp_path / "shared")
    writer, reader = FeatureStore(spark, path), FeatureStore(spark, path)
    v1 = writer.register_features(features, _meta("v1"))
    assert reader.latest_version() == v1
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    v2 = writer.register_features(more, _meta("v2"))
    latest, jobs = jobs_run_by(reader.latest_version)
    assert latest == v2
    assert jobs == 0


def test_equal_created_at_resolves_to_the_later_registration(store, features):
    stamp = "2024-01-01T00:00:00"
    frames = [features, features.withColumn("total_amount", F.col("total_amount") + 1.0)]
    # register the larger content hash first, so a hash tie-break would
    # pick the earlier registration
    frames.sort(key=content_version, reverse=True)
    first = store.register_features(frames[0], FeatureMetadata(description="a", created_at=stamp))
    second = store.register_features(frames[1], FeatureMetadata(description="b", created_at=stamp))
    assert first > second
    assert store.latest_version() == second
    assert store.version_as_of(stamp) == second
    assert [v["feature_version"] for v in store.list_feature_versions()] == [second, first]


def test_concurrent_writers_on_one_path_lose_no_registration(spark, tmp_path):
    import sys
    import threading

    path = str(tmp_path / "shared")
    frames = [
        spark.createDataFrame([(u, float(u * 10 + i)) for u in range(5)], "user_id long, x double")
        for i in range(6)
    ]
    results: dict[int, str] = {}
    errors: list[BaseException] = []

    def register(i: int) -> None:
        try:
            store = FeatureStore(spark, path)
            results[i] = store.register_features(frames[i], _meta(f"writer {i}"))
        except BaseException as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=register, args=(i,)) for i in range(len(frames))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    listed = {v["feature_version"] for v in FeatureStore(spark, path).list_feature_versions()}
    assert listed == set(results.values()) and len(listed) == len(frames)
    assert _lock_is_free(os.path.join(path, "_manifest.json.lock"))


def _lock_is_free(path: str) -> bool:
    import fcntl

    fd = os.open(path, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return True
    except BlockingIOError:
        return False
    finally:
        os.close(fd)


def test_register_leaves_a_caller_cached_frame_cached(store, features):
    from pyspark import StorageLevel

    features.persist(StorageLevel.MEMORY_ONLY)
    try:
        store.register_features(features, _meta())
        assert features.storageLevel == StorageLevel.MEMORY_ONLY
    finally:
        features.unpersist()


def test_cleanup_commits_the_manifest_before_dropping_partitions(store, features, monkeypatch):
    from ml_feature_store_pipeline_spark import store as store_module

    versions = [
        store.register_features(features.withColumn("total_amount", F.col("total_amount") + i), _meta())
        for i in range(3)
    ]

    def crash(*args, **kwargs):
        raise OSError("crash before the partition drop")

    monkeypatch.setattr(store_module, "drop_partition_dirs", crash)
    with pytest.raises(OSError):
        store.cleanup_old_versions(keep_n=1)
    # the dropped versions are unlisted although their directories remain
    assert [v["feature_version"] for v in store.list_feature_versions()] == [versions[2]]
    assert store.latest_version() == versions[2]
    assert store.get_features().count() == 5


def test_first_serve_of_a_new_version_runs_at_most_one_job(jobs_run_by, store, features):
    # the manifest's n_rows decides index vs point lookup (no size probe)
    # and its schema spares the read a schema-inference job: the collect
    store.register_features(features, _meta())
    row, jobs = jobs_run_by(lambda: store.serve_features(1))
    assert row["total_events"] == 3
    assert jobs <= 1


def test_get_features_builds_with_no_spark_job(jobs_run_by, store, features):
    v = store.register_features(features, _meta())
    df, jobs = jobs_run_by(lambda: store.get_features(v, use_cache=False))
    assert jobs == 0
    assert df.count() == 5
    assert {r["feature_version"] for r in df.select("feature_version").collect()} == {v}


def test_register_runs_at_most_six_jobs(jobs_run_by, store, features):
    # one observed write, then the validator's distinct/outlier aggregate
    # over the written files; persisting the frame for that aggregate ran
    # 7, and a separate validate, content hash and write ran 11
    v, jobs = jobs_run_by(lambda: store.register_features(features, _meta()))
    assert store.latest_version() == v
    assert jobs <= 6


@pytest.mark.parametrize("column", ["feature_version", "created_at"])
def test_register_rejects_the_stores_own_columns(store, features, column):
    v = store.register_features(features, _meta())
    again = store.get_features(v).drop(*{"feature_version", "created_at"} - {column})
    with pytest.raises(ValueError, match=column):
        store.register_features(again.withColumn("total_amount", F.col("total_amount") + 1), _meta())
    own = features.withColumn(column, F.lit("2020-01-01T00:00:00"))
    with pytest.raises(ValueError, match=column):
        store.register_features(own, _meta())
    assert [e["feature_version"] for e in store.list_feature_versions()] == [v]
    assert sorted(os.listdir(store.features_path)) == [f"feature_version={v}"]


def test_cleanup_rejects_a_negative_keep_n(store, features):
    versions = [
        store.register_features(features.withColumn("total_amount", F.col("total_amount") + i), _meta())
        for i in range(2)
    ]
    with pytest.raises(ValueError, match="keep_n"):
        store.cleanup_old_versions(keep_n=-1)
    assert {e["feature_version"] for e in store.list_feature_versions()} == set(versions)
    assert sorted(store.cleanup_old_versions(keep_n=0)) == sorted(versions)
    assert store.list_feature_versions() == []


def test_serve_of_an_unlisted_version_runs_no_spark_job(jobs_run_by, store, features):
    store.register_features(features, _meta())
    row, jobs = jobs_run_by(lambda: store.serve_features(1, version="not-a-listed-version"))
    assert row == {}
    assert jobs == 0


def test_cleanup_drops_the_index_through_the_backend_delete(spark, tmp_path, features):
    from ml_feature_store_pipeline_spark.cache import CacheBackend

    class DictCache(CacheBackend):
        """The contract alone: get/set/delete/clear/info over a dict."""

        def __init__(self):
            self.data = {}

        def get(self, key):
            return self.data.get(key)

        def set(self, key, value, ttl=3600):
            self.data[key] = value

        def delete(self, key):
            self.data.pop(key, None)

        def clear(self):
            self.data.clear()

        def info(self):
            return {"entries": len(self.data)}

    store = FeatureStore(spark, str(tmp_path / "fs"), cache=DictCache())
    v1 = store.register_features(features, _meta("v1"))
    assert store.serve_features(1)["total_events"] == 3
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    v2 = store.register_features(more, _meta("v2"))
    assert store.serve_features(1)["total_events"] == 3
    assert store.cleanup_old_versions(keep_n=1) == [v1]
    assert not any(v1 in k for k in store.cache.data)
    assert any(v2 in k for k in store.cache.data)


class _Capturing(DataQualityValidator):
    """Keeps what register's validation returned."""

    def validate(self, df, observed=None):
        self.result = super().validate(df, observed)
        return self.result


@pytest.mark.parametrize("frame", ["edge", "empty", "ten_thousand"])
def test_observed_register_equals_the_standalone_profile_and_hash(
    spark, tmp_path, edge_frame, frame
):
    from ml_feature_store_pipeline_spark.quality import profile

    df = {
        "edge": edge_frame,
        "empty": edge_frame.limit(0),
        "ten_thousand": spark.range(10_000).select(
            F.col("id").alias("user_id"),
            (F.col("id") % 97).cast("double").alias("x"),
            F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 13).alias("y"),
            (F.col("id") % 5).cast("string").alias("s"),
        ),
    }[frame]
    validator = _Capturing()
    store = FeatureStore(spark, str(tmp_path / "fs"), validator=validator)
    v = store.register_features(df, _meta())
    metrics, prof = validator.result
    want = profile(df)
    # NaN quartiles compare by their repr: NaN != NaN
    assert repr(prof) == repr(want)
    assert metrics == DataQualityValidator().validate(df)[0]
    assert v == content_version(df)
    assert store.get_features(v).count() == want.row_count


def test_a_writer_killed_holding_the_manifest_lock_blocks_no_one(store, features):
    import signal
    import subprocess
    import sys
    import time

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hold = (
        "import sys, time\n"
        "from ml_feature_store_pipeline_spark.store import _Manifest\n"
        "with _Manifest(sys.argv[1])._locked():\n"
        "    print('locked', flush=True)\n"
        "    time.sleep(600)\n"
    )
    manifest = os.path.join(store.path, "_manifest.json")
    proc = subprocess.Popen(
        [sys.executable, "-c", hold, manifest], cwd=root, stdout=subprocess.PIPE, text=True
    )
    try:
        assert proc.stdout.readline().strip() == "locked"
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=60)
    t0 = time.monotonic()
    v = store.register_features(features, _meta())
    assert time.monotonic() - t0 < 30
    assert store.latest_version() == v


def test_cleanup_drops_a_version_directory_a_crash_left_unlisted(store, features, monkeypatch):
    from ml_feature_store_pipeline_spark.sources.writers import list_partition_values

    v1 = store.register_features(features, _meta("v1"))
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)

    def crash(*args, **kwargs):
        raise OSError("crash before the manifest upsert")

    with monkeypatch.context() as m:
        m.setattr(FeatureStore, "_upsert_metadata", crash)
        with pytest.raises(OSError):
            store.register_features(more, _meta("v2"))
    assert [v["feature_version"] for v in store.list_feature_versions()] == [v1]
    assert store.cleanup_old_versions(keep_n=5) == []
    assert list_partition_values(store.features_path, "feature_version") == [v1]
    assert store.get_features().count() == 5


def test_cleanup_spares_a_live_writers_staging_directory(store, features):
    v = store.register_features(features, _meta())
    live, fd = store._open_staging()
    try:
        os.mkdir(os.path.join(live, "data"))
        dead = os.path.join(store.features_path, "_staging-dead")
        os.mkdir(dead)
        store.cleanup_old_versions(keep_n=5)
        assert os.path.isdir(os.path.join(live, "data"))
        assert not os.path.exists(dead)
    finally:
        os.close(fd)
    store.cleanup_old_versions(keep_n=5)
    assert sorted(os.listdir(store.features_path)) == [f"feature_version={v}"]


def test_two_writers_of_the_same_new_content_end_with_one_directory(spark, tmp_path, features):
    import threading

    path = str(tmp_path / "shared")
    features.persist()
    results: list[str] = []
    errors: list[BaseException] = []

    def register() -> None:
        try:
            results.append(FeatureStore(spark, path).register_features(features, _meta()))
        except BaseException as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    try:
        threads = [threading.Thread(target=register) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        features.unpersist()
    assert not errors, errors
    store = FeatureStore(spark, path)
    assert len(results) == 2 and results[0] == results[1] == store.latest_version()
    assert [v["feature_version"] for v in store.list_feature_versions()] == [results[0]]
    assert sorted(os.listdir(store.features_path)) == [f"feature_version={results[0]}"]
    assert store.get_features().count() == 5
