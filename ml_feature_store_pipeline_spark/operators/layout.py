"""Training-export layout and scan-pruning measurement.

- :func:`training_shards` / :func:`write_training_shards` — deterministic
  md5 shard ids and a reproducible within-shard order, written as one
  ``shard=K/`` directory per shard with a single exchange.
- :func:`pruning_audit` — simulates min/max file pruning for candidate
  sort layouts, so a table's layout is chosen before paying the rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def training_shards(
    df: DataFrame,
    key_col: str,
    *,
    n_shards: int,
    salt: str = "",
    shard_col: str = "shard",
    order_within: bool = True,
) -> DataFrame:
    """Deterministic training-export sharding: every row gets
    ``shard = md5-bucket(key) ∈ [0, n_shards)`` and (optionally) a
    within-shard ``shard_order`` — the md5 of the key again, so rows read
    back in shard_order are GLOBALLY SHUFFLED relative to any source
    ordering yet bit-reproducibly so. This is the standard trainer-facing
    layout: epoch-0 data order is fixed across pipeline reruns (loss
    curves comparable), shards are balanced (~N/n_shards ± √N), and a
    trainer can own shard ranges without coordination.

    Pure codegen column derivations — the shard assignment itself costs
    no shuffle; :func:`write_training_shards` pays exactly one exchange
    to co-locate shards for the partitioned write."""
    from .sampling import hash_bucket
    from .sketches import hash_fraction

    key = F.col(key_col)
    out = df.withColumn(shard_col, hash_bucket(key, n_shards, salt))
    if order_within:
        out = out.withColumn(
            "shard_order", hash_fraction(F.concat(F.lit(salt), F.lit("ord"), key.cast("string")))
        )
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    *,
    n_shards: int,
    salt: str = "",
) -> None:
    """Materialize :func:`training_shards` as ``shard=K/`` parquet
    directories, rows sorted by the deterministic ``shard_order`` within
    each file: ONE repartition exchange on the shard id (so each shard is
    one writer task's output, no small-file explosion), then a
    sort-within-partitions (no second exchange). Readers stream
    ``path/shard=K`` in file order and see the reproducible global
    shuffle."""
    sharded = training_shards(df, key_col, n_shards=n_shards, salt=salt)
    (
        sharded.repartition(n_shards, F.col("shard"))
        # leading `shard` matters: the partitioned writer REQUIRES its
        # output ordered by the partition columns and would insert its own
        # (order-destroying) sort otherwise; with the shard prefix our sort
        # already satisfies the requirement and survives to the files
        .sortWithinPartitions("shard", "shard_order")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def pruning_audit(
    df: DataFrame,
    layouts: dict[str, Column],
    predicate_col: Column,
    predicates: DataFrame,
    *,
    n_files: int = 16,
    round_digits: int = 6,
) -> DataFrame:
    """Min/max scan-pruning simulator — the measurement that decides a
    table's sort layout BEFORE paying the rewrite: for each candidate
    ``layouts[name]`` sort expression, rows are assigned to ``n_files``
    simulated files by the sort column's EXACT percentile boundaries
    (what a range-partitioned sorted write produces), each file keeps
    min/max of ``predicate_col`` (what parquet footers keep), and each
    predicate in ``predicates`` — rows (pred_id, lo, hi), matching
    ``lo ≤ p < hi`` — counts the files whose [min, max] it cannot skip.

    Per (layout, predicate): (layout, pred_id, lo, hi, n_files,
    files_scanned, rows_scanned, prune_frac). A layout sorted by the
    predicate column prunes ~(1 − selectivity); an uncorrelated layout
    prunes ~0 — the gap is the rewrite's worth. ``n_files`` in the OUTPUT
    is the count of OBSERVED (non-empty) simulated files, which can fall
    below the ``n_files`` parameter when heavy sort-key duplication lands
    several percentile boundaries on the same value (empty ranges produce
    no file, exactly as a range-partitioned writer would emit none).
    An empty ``layouts`` dict raises ``ValueError`` — there is no audit
    to run, and a silent ``None`` return would defer the failure to the
    caller's first method call.

    Exactness: boundaries are one exact interpolated-percentile
    aggregate per layout (broadcast back); file assignment counts
    boundaries strictly below the value (identical double comparisons);
    everything after is integer counts and one rounded ratio.

    Scale shape: per layout ONE scan with a broadcast boundary array +
    one combinable (file)-keyed min/max/count aggregate — no global
    sort, no ntile window (the audit costs a scan; the sorted WRITE it
    evaluates costs the range exchange). The |files|×|predicates|
    overlap join is dimension-sized.
    """
    if not layouts:
        raise ValueError("pruning_audit requires at least one candidate layout")
    fr = [k / n_files for k in range(1, n_files)]
    out = None
    for name, sort_col in layouts.items():
        keyed = df.select(
            sort_col.cast("double").alias("__k"), predicate_col.alias("__p")
        ).filter(F.col("__k").isNotNull())
        bounds = keyed.agg(
            F.expr(f"percentile(__k, array({', '.join(repr(f) for f in fr)}))").alias(
                "__bs"
            )
        )
        files = (
            keyed.crossJoin(F.broadcast(bounds))
            .select(
                F.aggregate(
                    F.col("__bs"),
                    F.lit(0),
                    lambda acc, b: acc + (F.col("__k") > b).cast("int"),
                ).alias("__file"),
                F.col("__p"),
            )
            .groupBy("__file")
            .agg(
                F.min("__p").alias("__mn"),
                F.max("__p").alias("__mx"),
                F.count(F.lit(1)).cast("long").alias("__rows"),
            )
        )
        hit = (F.col("__mx") >= F.col("lo")) & (F.col("__mn") < F.col("hi"))
        audit = (
            files.crossJoin(F.broadcast(predicates))
            .groupBy("pred_id", "lo", "hi")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum(hit.cast("long")).cast("long").alias("files_scanned"),
                F.sum(F.when(hit, F.col("__rows")).otherwise(F.lit(0)))
                .cast("long")
                .alias("rows_scanned"),
                F.round(
                    1.0 - F.sum(hit.cast("long")) / F.count(F.lit(1)), round_digits
                ).alias("prune_frac"),
            )
            .select(F.lit(name).alias("layout"), "pred_id", "lo", "hi",
                    "n_files", "files_scanned", "rows_scanned", "prune_frac")
        )
        out = audit if out is None else out.unionByName(audit)
    return out
