"""Training-export sharding and the min/max pruning audit."""

from __future__ import annotations

import pytest


def test_training_shards_balanced_reproducible_roundtrip(spark, tmp_path):
    """r7 training export: md5 shards are balanced and partition-
    independent; the written layout reads back complete with the
    reproducible within-shard order."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators.layout import (
        training_shards,
        write_training_shards,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    a = training_shards(df, "doc_id", n_shards=8)
    b = training_shards(df.repartition(7), "doc_id", n_shards=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    sizes = {r["shard"]: r["n"] for r in a.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(sizes) == 8
    assert max(sizes.values()) < 2 * min(sizes.values())  # ~250 ± √250

    path = str(tmp_path / "shards")
    write_training_shards(df, path, "doc_id", n_shards=8)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert set(back.columns) >= {"doc_id", "text", "shard", "shard_order"}
    # within one shard file, rows are stored in shard_order (reproducible
    # global shuffle): reading in file order equals sorting by shard_order
    one = spark.read.parquet(f"{path}/shard=3")
    stored = [r["doc_id"] for r in one.collect()]
    expected = [r["doc_id"] for r in one.orderBy("shard_order").collect()]
    assert stored == expected



def test_pruning_audit_sorted_layout_prunes_uncorrelated_does_not(spark):
    """A layout sorted by the predicate column must skip most simulated
    files for a narrow range; a random layout must scan nearly all."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators.layout import pruning_audit

    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.xxhash64("id").alias("r"),
    )
    preds = spark.createDataFrame(
        [(0, 0, 256)], "pred_id int, lo long, hi long"
    )  # 1/16 of the key space
    out = {
        (row["layout"], row["pred_id"]): row
        for row in pruning_audit(
            df,
            {"by_key": F.col("k"), "by_random": F.col("r")},
            F.col("k"),
            preds,
            n_files=16,
        ).collect()
    }
    sorted_row, random_row = out[("by_key", 0)], out[("by_random", 0)]
    assert sorted_row["n_files"] == 16
    assert sorted_row["files_scanned"] == 1          # perfect pruning
    assert sorted_row["prune_frac"] == pytest.approx(15 / 16)
    assert random_row["files_scanned"] == 16         # no pruning
    assert random_row["prune_frac"] == pytest.approx(0.0)
    # row accounting: the sorted layout scans exactly the selected file
    assert sorted_row["rows_scanned"] == n // 16
