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

from pyspark.sql import DataFrame


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
