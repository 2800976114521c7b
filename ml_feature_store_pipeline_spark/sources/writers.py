"""Sinks: CSV/parquet writers + atomic small-table overwrite (SURVEY §2.A).

``atomic_overwrite_parquet`` rewrites a small table (the streaming sinks'
state tables) via temp-path + rename — parquet has no ``INSERT OR
REPLACE`` (`ML Feature Store Pipeline.py:329-341`), and readers never
observe a half-written table.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (reference A2 `:606`)."""
    df.write.mode(mode).option("header", "true").csv(path)


def atomic_overwrite_parquet(
    df: DataFrame, path: str, *, extra_files: dict[str, str] | None = None
) -> None:
    """Overwrite a SMALL table via a temp-dir write + two-rename swap.
    Only for driver-managed small tables; big tables use partition-level
    operations instead.

    ``extra_files`` maps ``_``-prefixed sidecar names to text contents
    written into the temp dir BEFORE the swap, so markers (e.g. a
    streaming sink's last-applied epoch id) commit atomically with the
    data. Spark's file listing skips ``_``/``.``-prefixed files, so
    sidecars never leak into the table schema.

    SINGLE-WRITER contract, not true atomicity: the swap is two renames
    (path→old, tmp→path), so a concurrent reader can hit a brief ENOENT
    window between them, and a crash between the renames leaves the data
    in the ``.old-*`` sibling (recovery: rename it back). True atomicity
    needs a symlink/manifest indirection — out of scope for a local
    metadata dir."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    for name, content in (extra_files or {}).items():
        if not name.startswith(("_", ".")):
            raise ValueError(f"sidecar {name!r} must be _/.-prefixed (Spark skips those)")
        with open(os.path.join(tmp, name), "w") as fh:
            fh.write(content)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def drop_partition_dirs(store_path: str, partition_col: str, values: list[str]) -> int:
    """Physical partition drop (reference A9 delete-by-version `:514-521`):
    removing ``{store}/{col}={value}`` subtrees is a metadata-only delete —
    no job scans or rewrites the surviving data."""
    dropped = 0
    for v in values:
        d = os.path.join(store_path, f"{partition_col}={v}")
        if os.path.isdir(d):
            shutil.rmtree(d)
            dropped += 1
    return dropped


def list_partition_values(store_path: str, partition_col: str) -> list[str]:
    prefix = f"{partition_col}="
    if not os.path.isdir(store_path):
        return []
    return sorted(
        d[len(prefix):]
        for d in os.listdir(store_path)
        if d.startswith(prefix) and os.path.isdir(os.path.join(store_path, d))
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — interchange format; splittable but row-oriented,
    so parquet/ORC stay the at-scale defaults."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", *partition_cols: str) -> None:
    """ORC sink (columnar alternative to parquet; same partitioning rules)."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table write — the shuffle-elimination
    layout for repeated joins/aggregations on the same key.

    Two tables bucketed on the join key with the same bucket count join
    with ZERO exchanges (asserted in
    test_plans.py::test_bucketed_join_has_no_exchange); a groupBy on the
    bucket key also skips its exchange. At 100 TB this converts every
    recurring fact-fact join on user_id from a full network shuffle into
    a local per-bucket merge. Bucket metadata lives in the session
    catalog, so read via ``spark.table(table_name)``.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def compact_partition(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction for one partition directory (a version subtree
    of the feature store, or any parquet leaf dir).

    Streaming micro-batches and per-executor writes leave partitions as
    hundreds of small files; at 100 TB that means listing storms, tiny
    scan tasks, and row-group stats too fine to prune well. Compaction
    rewrites the directory into ``ceil(total_bytes / target_file_bytes)``
    files via a temp-path write + two-rename swap (same SINGLE-WRITER
    contract as :func:`atomic_overwrite_parquet`: a concurrent reader can
    hit a brief ENOENT window between the renames, and a crash between
    them leaves the data stranded in the ``.old-*`` sibling — rename it
    back to recover; readers never see a HALF-WRITTEN state, but the swap
    is not one atomic operation).

    Uses ``coalesce`` (narrow — each output task concatenates input
    splits, no shuffle). Returns ``{"files_before", "files_after",
    "bytes", "compacted"}``; skips (``compacted=False``) when the dir
    already has fewer than ``min_files`` files, so idempotent re-runs are
    free. Row ORDER within the partition is not preserved (parquet dirs
    never promise one); bucketed tables must NOT be compacted this way —
    their file count IS the bucket contract.
    """
    names = [n for n in os.listdir(path) if n.endswith(".parquet")]
    total = sum(os.path.getsize(os.path.join(path, n)) for n in names)
    n_out = max(1, -(-total // target_file_bytes))
    if len(names) < min_files or n_out >= len(names):
        return {"files_before": len(names), "files_after": len(names), "bytes": total, "compacted": False}
    df = spark.read.parquet(path)
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    df.coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len([n for n in os.listdir(path) if n.endswith(".parquet")])
    return {"files_before": len(names), "files_after": after, "bytes": total, "compacted": True}

