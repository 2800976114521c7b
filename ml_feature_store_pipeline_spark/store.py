"""Offline/online feature store over version-partitioned parquet.

Re-expresses the reference's ``AdvancedFeatureStore`` (`ML Feature Store
Pipeline.py:229-541`) on Spark:

- the SQLite ``features`` table (`:262-280`) → a parquet table partitioned
  by ``feature_version``: each version lives in its own partition
  directory, version reads touch one subtree, retention = drop
  directories. At 100 TB the intended-but-broken SQLite indexes
  (`:277-278`) become partition pruning (version) + parquet row-group
  min/max stats (user_id, helped by sorting within partitions at write).
- the reference's register (`:295-353`: validate, content-hash, insert)
  → one observed write. The caller's frame is written into
  ``features/_staging-<uuid>/data`` under ``DataFrame.observe``, so that
  single job, the one pass over the feature lineage, also yields the
  content hash (the version id) and the quality profile's first
  aggregate; the validator then runs one aggregate for the distinct-row
  count and the outlier sums over the rows just written, read back from
  the staging directory. The writer
  holds a ``flock`` on its staging directory while it works. Under the
  manifest lock the data directory is renamed to
  ``feature_version=<v>`` and the manifest entry is added; a version the
  manifest already lists drops its staging copy instead, so two writers
  of the same content end with one directory and one entry.
- the ``feature_metadata`` table (`:282-292`) → one JSON manifest,
  ``{path}/_manifest.json``, with one entry per version:
  ``FeatureMetadata.to_dict()`` plus a monotonic registration ``seq``, the
  version's ``n_rows`` and the read ``schema`` of its directory, so
  ``get_features`` builds its DataFrame with no Spark job.
  Every metadata operation (latest / as-of resolution, point lookup,
  listing, upsert, retention) runs on the driver over the parsed entries,
  with no Spark job. Readers re-parse the file only when its stat changed,
  so a publish from another store object or process is seen on the next
  call. Writers hold an exclusive ``flock`` on ``_manifest.json.lock`` for
  each read-modify-write (the kernel releases it when a writer dies) and
  swap the new file in with ``os.replace``.
- crash safety: a crash leaves at most a staging directory or a version
  directory the manifest does not list; ``cleanup_old_versions`` drops
  both (a staging directory only once no writer holds its lock). The
  lock files are ``flock``s, so they work on a local filesystem only.
- asyncio/aiosqlite (`:261, :317, :373`) → not replicated: Spark supplies
  the parallelism; the public API is synchronous (SURVEY §3.4).
"""

from __future__ import annotations

import contextlib
import copy
import dataclasses
import datetime as _dt
import fcntl
import json
import os
import shutil
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import CacheBackend, InMemoryTTLCache, cache_key
from .config import DataQualityMetrics, FeatureConfig, FeatureMetadata
from .monitor import FeatureMonitor
from .quality import DataQualityValidator, profile_aggregates
from .schemas import CREATED_AT_COLUMN, VERSION_COLUMN
from .sources.writers import drop_partition_dirs, list_partition_values
from .versioning import content_aggregates, version_from

# perfbench's traced mode patches these names here
from .sources.writers import atomic_overwrite_parquet  # noqa: F401
from .versioning import content_version  # noqa: F401

MANIFEST_NAME = "_manifest.json"
#: Name prefix of a registration's staging directory under ``features/``;
#: Spark's file listing skips ``_``-prefixed directories.
STAGING_PREFIX = "_staging-"
#: Seconds a version's serving index stays cached; the reference
#: hardcodes 3600 (`:350, :412`).
CACHE_TTL_S = 3600
#: Rows are sorted by this column within each written file, so parquet
#: row-group min/max stats let ``user_id`` point lookups skip row groups
#: (the scalable stand-in for the reference's intended INDEX(user_id)).
SORT_COLUMN = "user_id"


def _utc_now_iso() -> str:
    """ISO-8601 UTC stamp (reference H2 `:634`) — lexicographic == chronological."""
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None).isoformat()


class _Manifest:
    """The store's version metadata as one JSON document,
    ``{"seq": <last registration seq>, "versions": [entry, ...]}``.

    Reads re-parse the file only when its (mtime_ns, size, inode) changed.
    Writers hold an exclusive ``flock`` on a lock file beside it, re-read
    the document under it, write a temp file and swap it in with
    ``os.replace``: readers see the old document or the new one, never a
    partial one, and concurrent writers cannot lose each other's updates.
    ``flock`` belongs to the open file, so it also excludes threads of
    one process, and the kernel drops it when its holder dies."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.lock_path = path + ".lock"
        self._cached: tuple[tuple[int, int, int], dict] | None = None

    def entries(self) -> list[dict]:
        """The current entries; callers must not mutate them."""
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            return []
        cached = self._cached
        if cached is None or cached[0] != (st.st_mtime_ns, st.st_size, st.st_ino):
            cached = self._parse()
        return cached[1]["versions"]

    def _parse(self) -> tuple[tuple[int, int, int], dict]:
        try:
            fh = open(self.path)
        except FileNotFoundError:
            return ((0, 0, 0), {"seq": 0, "versions": []})
        with fh:
            # the stat of the file actually read: a swap between a reader's
            # os.stat and this open only causes one more parse later
            st = os.fstat(fh.fileno())
            parsed = ((st.st_mtime_ns, st.st_size, st.st_ino), json.load(fh))
        self._cached = parsed
        return parsed

    @contextlib.contextmanager
    def locked(self) -> Iterator[dict]:
        """Hold the writer lock for the block and yield a private copy of
        the document, re-read under it; :meth:`commit` publishes a change."""
        with self._locked():
            yield copy.deepcopy(self._parse()[1])

    def commit(self, doc: dict) -> None:
        """Swap ``doc`` in as the manifest (call under :meth:`locked`)."""
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.path)
        # make the swap itself durable before the caller acts on it
        # (cleanup drops partition directories next)
        dir_fd = os.open(os.path.dirname(self.path), os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)

    @contextlib.contextmanager
    def _locked(self) -> Iterator[None]:
        fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)  # releases the lock


def _recency(entry: dict) -> tuple[str, int]:
    """Newest = latest ``created_at``; equal stamps resolve by registration order."""
    return entry[CREATED_AT_COLUMN], entry["seq"]


def _index_key(version: str) -> str:
    """The cache key of a version's serving index, its only cache entry."""
    return cache_key(version) + "_serving_index"


def _metadata_from_entry(entry: dict) -> FeatureMetadata:
    d = copy.deepcopy(entry)
    return FeatureMetadata(
        feature_version=d[VERSION_COLUMN],
        description=d["description"],
        created_at=d[CREATED_AT_COLUMN],
        features_config=[FeatureConfig(**c) for c in d["features_config"]],
        data_quality_metrics=DataQualityMetrics(**d["data_quality_metrics"]),
        lineage=d["lineage"],
        tags=d["tags"],
    )


class FeatureStore:
    """Versioned feature store (reference K1–K7)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        cache: CacheBackend | None = None,
        validator: DataQualityValidator | None = None,
        max_serving_index_rows: int = 5_000_000,
    ) -> None:
        self.spark = spark
        self.path = path
        self.features_path = os.path.join(path, "features")
        self._manifest = _Manifest(os.path.join(path, MANIFEST_NAME))
        self.cache = cache or InMemoryTTLCache()
        self.validator = validator or DataQualityValidator()
        self.monitor = FeatureMonitor()
        self.max_serving_index_rows = max_serving_index_rows
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------------ K1
    def register_features(
        self, features: DataFrame, metadata: FeatureMetadata, *, enforce_schema: bool = True
    ) -> str:
        """Observed write → version id → validate → commit by rename →
        metadata upsert → monitor (reference `:295-353`).

        Unlike the reference — which inserts whatever columns the frame has
        (`:320-321`, schema effectively trusted) — declared ``features_config``
        entries are checked against the actual schema (SURVEY §1.3: strictly
        more checking, flagged as such). ``enforce_schema=False`` restores the
        reference's trusting behavior.

        Registering content whose version is already in the store is a
        no-op for the store: the rows are written to a staging directory
        (the write is what computes the version id), which is then
        dropped, and the existing entry (and ``latest_version()``) stays
        as it was.

        The frame may not carry the columns the store stamps,
        ``feature_version`` and ``created_at``: they would be hashed and
        profiled as features, and overwritten on the stored rows.
        """
        for name in (VERSION_COLUMN, CREATED_AT_COLUMN):
            if name in features.columns:
                raise ValueError(
                    f"column {name!r} is stamped by the store; drop it before registering"
                )
        if enforce_schema and metadata.features_config:
            self._check_schema(features, metadata)
        staging, staging_fd = self._open_staging()
        try:
            # one stamp for BOTH the feature rows and the metadata copy
            # below: a backfill's explicit metadata.created_at must also be
            # what the row-level column says, or version_as_of()
            # time-travels to rows that self-describe a different creation
            # time (r9 review).
            created_at = metadata.created_at or _utc_now_iso()
            # The observation sits on the unstamped frame with no exchange
            # above it, so the write's single job also computes the content
            # hash and the profile's first aggregate.
            observation = Observation()
            stamped = features.observe(
                observation, *profile_aggregates(features), *content_aggregates(features)
            ).withColumn(CREATED_AT_COLUMN, F.lit(created_at))
            if SORT_COLUMN in features.columns:
                stamped = stamped.sortWithinPartitions(SORT_COLUMN)
            data = os.path.join(staging, "data")
            stamped.write.parquet(data)
            observed = observation.get
            version = version_from(observed)
            if self._entry(version) is not None:
                return version
            # the validator's aggregate reads the rows just written, without
            # the stamp, so the write stays the one pass over the lineage
            written = self.spark.read.schema(features.schema).parquet(data)
            metrics, prof = self.validator.validate(written, observed)

            # stamp a COPY — mutating the caller's object made a REUSED
            # FeatureMetadata carry the first registration's created_at into
            # every later register call, so latest_version() (top-1 by
            # created_at) could keep resolving to the superseded version: the
            # exact staleness mode this store claims a zero window for (found
            # by the demo's register→serve→re-register→serve assertion, r9).
            # An EXPLICITLY pre-set created_at is still honored (backfill /
            # time-travel); registrations with an equal created_at resolve
            # by registration order.
            stamped_meta = dataclasses.replace(
                metadata,
                feature_version=version,
                created_at=created_at,
                data_quality_metrics=metrics,
            )
            read_schema = T.StructType(
                stamped.schema.fields + [T.StructField(VERSION_COLUMN, T.StringType())]
            )
            with self._manifest.locked() as doc:
                if any(e[VERSION_COLUMN] == version for e in doc["versions"]):
                    return version  # a concurrent writer of the same content won
                target = self._version_dir(version)
                # an unlisted directory is a crashed registration's leftover
                shutil.rmtree(target, ignore_errors=True)
                os.rename(data, target)
                self._upsert_metadata(doc, stamped_meta, prof.row_count, read_schema)
                self._manifest.commit(doc)

            self.monitor.log_feature_creation(version, prof.row_count, metrics.overall_score)
            # The reference eagerly caches the whole frame at register
            # (`:349-350`); at scale that collect is wrong, so the serving
            # cache fills lazily on first read instead (same hit behavior
            # from the second access on).
            return version
        finally:
            shutil.rmtree(staging, ignore_errors=True)
            os.close(staging_fd)  # after the removal: cleanup skips it until here

    def _open_staging(self) -> tuple[str, int]:
        """A new staging directory and the open descriptor holding its
        ``flock``. Made under the manifest lock, which cleanup's sweep also
        holds, so the sweep never sees a staging directory before its
        writer has locked it."""
        with self._manifest._locked():
            os.makedirs(self.features_path, exist_ok=True)
            staging = os.path.join(self.features_path, STAGING_PREFIX + uuid.uuid4().hex)
            os.mkdir(staging)
            fd = os.open(staging, os.O_RDONLY)
            fcntl.flock(fd, fcntl.LOCK_EX)
        return staging, fd

    def _version_dir(self, version: str) -> str:
        return os.path.join(self.features_path, f"{VERSION_COLUMN}={version}")

    def _check_schema(self, features: DataFrame, metadata: FeatureMetadata) -> None:
        """Declared configs must exist in the frame with the declared dtype."""
        from .schemas import dtype_to_spark

        actual = {f.name: f.dataType for f in features.schema.fields}
        problems = []
        for cfg in metadata.features_config:
            if cfg.name not in actual:
                problems.append(f"declared feature {cfg.name!r} missing from DataFrame")
            else:
                expected = dtype_to_spark(cfg.dtype)
                if actual[cfg.name] != expected:
                    problems.append(
                        f"{cfg.name}: declared {cfg.dtype} ({expected.simpleString()}) "
                        f"but DataFrame has {actual[cfg.name].simpleString()}"
                    )
        if problems:
            raise ValueError("feature schema mismatch: " + "; ".join(problems))

    @staticmethod
    def _upsert_metadata(
        doc: dict, metadata: FeatureMetadata, n_rows: int, schema: T.StructType
    ) -> None:
        """A5 INSERT: append the version's entry to the manifest document
        with the next registration ``seq``, its row count and the read
        schema of its directory."""
        doc["seq"] += 1
        doc["versions"].append(
            {**metadata.to_dict(), "seq": doc["seq"], "n_rows": n_rows, "schema": schema.jsonValue()}
        )

    def _entry(self, version: str) -> dict | None:
        return next(
            (e for e in self._manifest.entries() if e[VERSION_COLUMN] == version), None
        )

    # ------------------------------------------------------------------ K2
    def latest_version(self) -> str | None:
        """F1 `:373-380`: the entry with the latest created_at; equal stamps
        (two registrations in one microsecond, or an explicit backfilled
        timestamp) resolve to the one registered last. Read from the
        manifest with no Spark job; the file is re-parsed only when it
        changed, so a registration by any other store object or process
        is seen on the next call."""
        entries = self._manifest.entries()
        return max(entries, key=_recency)[VERSION_COLUMN] if entries else None

    def version_as_of(self, as_of: str) -> str | None:
        """Time-travel resolution: the version that was latest at ``as_of``
        (ISO-8601 UTC, same format as the stamped created_at) — what a
        training job reads to reproduce the features a past run saw.
        Resolved from the manifest; no Spark job."""
        entries = [e for e in self._manifest.entries() if e[CREATED_AT_COLUMN] <= as_of]
        return max(entries, key=_recency)[VERSION_COLUMN] if entries else None

    def get_features(
        self,
        version: str | None = None,
        user_ids: list[int] | None = None,
        use_cache: bool = True,
        as_of: str | None = None,
    ) -> DataFrame:
        """Version read with optional user filter (reference `:363-416`).
        Returns a LAZY DataFrame, built with no Spark job: B1 reads only the
        version's partition directory, with the schema its manifest entry
        records, and the B2 IN-list reaches parquet row groups as pushed
        filters. ``as_of`` time-travels to the version that was
        latest at that timestamp (mutually exclusive with ``version``).
        ``use_cache`` is ignored: the read is always this lazy scan, and
        the serving index lives in :meth:`serve_features`. The parameter
        stays for callers that pass it."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_as_of(as_of)
            if version is None:
                raise ValueError(f"no version existed at or before {as_of!r}")
        version = version or self.latest_version()
        if version is None:
            raise ValueError("feature store is empty — no registered versions")
        entry = self._entry(version)
        if entry is None:
            raise ValueError(f"feature version {version!r} is not in the store")
        # the manifest's schema spares Spark a footer-reading inference job
        df = (
            self.spark.read.schema(T.StructType.fromJson(entry["schema"]))
            .option("basePath", self.features_path)
            .parquet(self._version_dir(version))
        )
        if user_ids is not None:
            df = df.filter(F.col("user_id").isin([int(u) for u in user_ids]))
        self.monitor.log_feature_access(version, len(user_ids) if user_ids else None)
        return df

    def merge_features(
        self,
        changes: DataFrame,
        *,
        base_version: str | None = None,
        keys: list[str] | None = None,
        op_col: str = "op",
        seq_col: str | None = None,
        metadata: FeatureMetadata | None = None,
    ) -> str:
        """Point corrections as a NEW immutable version: apply a CDC batch
        (upserts + deletes, ``operators.cdc`` semantics) to ``base_version``
        (default latest) and register the merged result — the batch form of
        the reference's row-level ``INSERT OR REPLACE`` / ``DELETE``
        mutations (SURVEY §2 A4/A9), with the store's versioning preserved:
        the base version stays readable, lineage records the derivation.

        Scale shape: one pruned scan of the base partition + the broadcast
        anti-join apply — the batch is the only thing shuffled."""
        from .operators import cdc

        base_version = base_version or self.latest_version()
        if base_version is None:
            raise ValueError("feature store is empty — nothing to merge into")
        base = self.get_features(version=base_version).drop(
            VERSION_COLUMN, CREATED_AT_COLUMN
        )
        merged = cdc.merge_changes(
            base, changes, keys or ["user_id"], op_col=op_col, seq_col=seq_col
        )
        meta = metadata or FeatureMetadata(
            description=f"CDC merge into {base_version}"
        )
        # copy before injecting lineage: a caller-reused metadata object
        # must not silently accumulate derivation keys (ADVICE r4)
        meta = dataclasses.replace(
            meta,
            lineage={**meta.lineage, "base_version": base_version, "derived_by": "cdc_merge"},
        )
        # merged output needs no re-declared schema check: columns are the
        # base version's by construction
        return self.register_features(merged, meta, enforce_schema=False)

    def diff_versions(
        self, old_version: str, new_version: str, *, keys: list[str] | None = None
    ) -> DataFrame:
        """Audit the change batch between two registered versions (the
        inverse of :meth:`merge_features`): upsert rows for keys added or
        changed in ``new_version``, delete rows for keys it dropped —
        ``operators.cdc.diff_snapshots`` over two pruned partition reads.
        ``merge_changes(old, diff) == new`` exactly (property-tested at
        the operator level), so the diff is also the minimal incremental
        replication feed between the two snapshots."""
        from .operators import cdc

        old = self.get_features(version=old_version).drop(
            VERSION_COLUMN, CREATED_AT_COLUMN
        )
        new = self.get_features(version=new_version).drop(
            VERSION_COLUMN, CREATED_AT_COLUMN
        )
        return cdc.diff_snapshots(old, new, keys or ["user_id"])

    # ------------------------------------------------------------------ K3
    def serve_features(self, user_id: int, version: str | None = None) -> dict[str, Any]:
        """Single-entity online lookup (reference `:427-446`).

        The reference re-runs a table scan per (version, user) on cache miss
        (`:382-401`). Here the WHOLE version slice is collected once into the
        driver TTL cache and point lookups are dict hits — same results, one
        job per version instead of one per user (SURVEY §3.3).

        The collect is size-guarded: a version whose manifest ``n_rows``
        exceeds ``max_serving_index_rows`` is never pulled to the driver —
        lookups fall back to the pushed-filter path
        (``get_features(user_ids=[user_id])``), where the B1+B2 predicates
        reach the parquet scan and row-group stats skip non-matching files.
        Same dict either way. A version the manifest does not list serves
        ``{}`` without a Spark job.
        """
        version = version or self.latest_version()
        if version is None:
            return {}
        key = _index_key(version)
        index: dict[int, dict[str, Any]] | None = self.cache.get(key)
        if index is not None:
            self.monitor.log_feature_access(version, 1)
            return index.get(int(user_id), {})
        entry = self._entry(version)
        if entry is None:
            return {}
        if entry["n_rows"] > self.max_serving_index_rows:  # pushed-filter point lookup
            rows = self.get_features(version=version, user_ids=[int(user_id)]).collect()
            return self._serving_dict(rows[0]) if rows else {}
        rows = self.get_features(version=version).collect()
        index = {r["user_id"]: self._serving_dict(r) for r in rows}
        self.cache.set(key, index, ttl=CACHE_TTL_S)
        return index.get(int(user_id), {})

    def validate_serving_parity(
        self, version: str | None = None, *, sample_size: int = 100
    ) -> dict[str, Any]:
        """Online/offline consistency check: serve a deterministic sample
        of entities through the ONLINE path (:meth:`serve_features` — cache
        index or pushed-filter lookup) and compare byte-for-byte against
        the OFFLINE batch read of the same version. Training/serving skew
        is the classic silent feature-store failure; platforms run exactly
        this audit after every publish.

        The sample is md5-ordered (stable across runs/partitionings), so
        re-running after a fix re-checks the SAME entities. Returns
        ``{"version", "checked", "mismatches": [user_id, ...]}`` —
        empty mismatches is the pass condition. Driver cost is bounded by
        ``sample_size`` (one N-row collect + N dict lookups).

        Staleness SLA: with ``version=None`` the audit resolves and
        checks the CURRENT latest version. The reference resolves
        ``feature_version=None`` to the latest version from the DB
        *before* its cache lookup, but cache entries are never
        invalidated on re-registration — TTL-only expiry (reference
        `:350,412`) — so a version's cached frames can lag the DB's rows
        for that version by up to 3600 s. Here that window is ZERO: the
        serving index is version-scoped, ``latest_version()`` re-reads the
        manifest whenever it changed, and re-registration rebuilds the
        index — a stale index can only be served if it is planted under
        the new version's key, which this audit detects as a full-sample
        mismatch
        (``test_serving_parity_audit_detects_stale_cache_epoch``)."""
        version = version or self.latest_version()
        if version is None:
            return {"version": None, "checked": 0, "mismatches": []}
        offline = self.get_features(version=version)
        sample = (
            offline.select("user_id")
            .distinct()
            .orderBy(F.md5(F.col("user_id").cast("string")))
            .limit(sample_size)
            .collect()
        )
        keys = [int(r["user_id"]) for r in sample]
        batch = {
            int(r["user_id"]): self._serving_dict(r)
            for r in offline.filter(F.col("user_id").isin(keys)).collect()
        }
        mismatches = [
            uid
            for uid in keys
            if self.serve_features(uid, version=version) != batch.get(uid, {})
        ]
        return {"version": version, "checked": len(keys), "mismatches": mismatches}

    @staticmethod
    def _serving_dict(row: Row) -> dict[str, Any]:
        d = row.asDict()
        d.pop(VERSION_COLUMN, None)  # B5 `:438-439`
        d.pop(CREATED_AT_COLUMN, None)
        return d

    # ------------------------------------------------------------------ K4
    def get_feature_metadata(self, version: str) -> FeatureMetadata | None:
        """A7 point lookup (reference `:456-475`)."""
        entry = self._entry(version)
        return None if entry is None else _metadata_from_entry(entry)

    # ------------------------------------------------------------------ K5
    def list_feature_versions(self) -> list[dict[str, Any]]:
        """A8/F2 ordered listing, newest first (reference `:481-497`)."""
        return [
            {
                "feature_version": e[VERSION_COLUMN],
                "description": e["description"],
                "created_at": e[CREATED_AT_COLUMN],
                "quality_score": e["data_quality_metrics"]["overall_score"],
                "tags": list(e["tags"]),
            }
            for e in sorted(self._manifest.entries(), key=_recency, reverse=True)
        ]

    # ------------------------------------------------------------------ K6
    def cleanup_old_versions(self, keep_n: int = 5) -> list[str]:
        """Keep newest N versions (reference `:503-528`). Under the manifest
        lock, the manifest drops the older entries first; then their
        partition directories are removed (no data rewrite), and so are
        orphans: version directories the manifest does not list (a
        registration that crashed between its rename and its manifest
        upsert) and staging directories whose writer is gone (no
        ``flock`` held on them). A crash in between leaves unlisted
        directories, never a listed version whose rows are gone, and the
        next cleanup drops them. ``keep_n=0`` drops every listed version.
        Returns the dropped listed versions."""
        if keep_n < 0:
            raise ValueError(f"keep_n must be >= 0, got {keep_n}")
        with self._manifest.locked() as doc:
            newest_first = sorted(doc["versions"], key=_recency, reverse=True)
            doomed = [e[VERSION_COLUMN] for e in newest_first[keep_n:]]
            if doomed:
                doc["versions"] = newest_first[:keep_n]
                self._manifest.commit(doc)
            kept = {e[VERSION_COLUMN] for e in doc["versions"]}
            on_disk = list_partition_values(self.features_path, VERSION_COLUMN)
            unlisted = [v for v in on_disk if v not in kept]
            if unlisted:
                drop_partition_dirs(self.features_path, VERSION_COLUMN, unlisted)
            self._drop_dead_staging()
        for v in doomed:
            self.cache.delete(_index_key(v))
        return doomed

    def _drop_dead_staging(self) -> None:
        """Remove the staging directories no live writer holds locked."""
        if not os.path.isdir(self.features_path):
            return
        for name in os.listdir(self.features_path):
            if not name.startswith(STAGING_PREFIX):
                continue
            path = os.path.join(self.features_path, name)
            try:
                fd = os.open(path, os.O_RDONLY)
            except FileNotFoundError:
                continue  # its writer just removed it
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                shutil.rmtree(path, ignore_errors=True)
            except BlockingIOError:
                pass  # a live writer's
            finally:
                os.close(fd)

    # ------------------------------------------------------------------ K7
    def get_monitoring_dashboard(self) -> dict[str, Any]:
        """Dashboard dict, same shape as reference `:534-541`."""
        return {
            "metrics": self.monitor.get_metrics(),
            "alerts": list(self.monitor.alerts),
            "cache_info": self.cache.info(),
            "store_path": self.path,
            "partitions": list_partition_values(self.features_path, VERSION_COLUMN),
        }
