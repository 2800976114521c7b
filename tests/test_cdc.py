"""CDC merge semantics: compaction, tie-breaks, idempotent replay, plan shape."""

from __future__ import annotations

from ml_feature_store_pipeline_spark.operators import cdc


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "val"]
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, ["k", "name", "val", "op", "seq"])


def test_merge_upsert_insert_delete(spark):
    t = _target(spark)
    ch = _changes(
        spark,
        [
            (2, "b2", 21.0, "upsert", 1),  # update existing
            (3, "c", 30.0, "delete", 1),  # drop existing
            (9, "i", 90.0, "upsert", 1),  # insert new
            (7, "x", 0.0, "delete", 1),  # delete of absent key = no-op
        ],
    )
    out = {r["k"]: (r["name"], r["val"]) for r in cdc.merge_changes(t, ch, ["k"], seq_col="seq").collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 21.0), 9: ("i", 90.0)}


def test_compaction_latest_seq_wins(spark):
    ch = _changes(
        spark,
        [
            (5, "v1", 1.0, "upsert", 1),
            (5, "v2", 2.0, "upsert", 2),
            (5, "v3", 3.0, "upsert", 3),
        ],
    )
    out = cdc.compact_changes(ch, ["k"], "seq").collect()
    assert len(out) == 1 and out[0]["name"] == "v3"


def test_seq_tie_prefers_delete(spark):
    t = _target(spark)
    ch = _changes(spark, [(2, "b2", 21.0, "upsert", 5), (2, "b", 20.0, "delete", 5)])
    keys = [r["k"] for r in cdc.merge_changes(t, ch, ["k"], seq_col="seq").collect()]
    assert sorted(keys) == [1, 3]  # the tied delete won; key 2 is gone


def test_replay_is_idempotent(spark):
    t = _target(spark)
    ch = _changes(
        spark,
        [(1, "a9", 11.0, "upsert", 1), (3, "c", 30.0, "delete", 2), (8, "n", 80.0, "upsert", 1)],
    )
    once = cdc.merge_changes(t, ch, ["k"], seq_col="seq")
    twice = cdc.merge_changes(once, ch, ["k"], seq_col="seq")
    assert sorted(once.collect()) == sorted(twice.collect())


def test_merge_plan_broadcasts_batch(spark):
    """The target side must not shuffle: the batch is broadcast into the
    anti join, so the merge is one map-side pass over the target scan."""
    t = _target(spark)
    ch = _changes(spark, [(2, "b2", 21.0, "upsert", 1)])
    plan = (
        cdc.merge_changes(t, ch, ["k"], seq_col="seq")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_sort_merge_path_matches_broadcast_path(spark):
    t = _target(spark)
    ch = _changes(spark, [(2, "b2", 21.0, "upsert", 1), (3, "c", 30.0, "delete", 1)])
    a = cdc.merge_changes(t, ch, ["k"], seq_col="seq", broadcast_batch=True)
    b = cdc.merge_changes(t, ch, ["k"], seq_col="seq", broadcast_batch=False)
    assert sorted(a.collect()) == sorted(b.collect())


def test_cdc_merge_sink_maintains_snapshot(spark, tmp_path):
    """Streamed change batches fold into a parquet snapshot: upserts
    replace, deletes drop, later epochs win, replayed epochs are no-ops."""
    from ml_feature_store_pipeline_spark.streaming import cdc_merge_sink

    src = str(tmp_path / "src")
    snap = str(tmp_path / "snapshot")
    schema = "k long, name string, val double, op string, seq long"
    b1 = spark.createDataFrame(
        [(1, "a", 1.0, "upsert", 1), (2, "b", 2.0, "upsert", 1)], schema
    )
    b2 = spark.createDataFrame(
        [(1, "a2", 10.0, "upsert", 2), (2, "b", 2.0, "delete", 2), (3, "c", 3.0, "upsert", 2)],
        schema,
    )
    b1.write.parquet(src)

    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(cdc_merge_sink(snap, ["k"], seq_col="seq"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r["k"]: r["name"] for r in spark.read.parquet(snap).collect()}
        assert first == {1: "a", 2: "b"}
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r["k"]: (r["name"], r["val"]) for r in spark.read.parquet(snap).collect()}
    assert out == {1: ("a2", 10.0), 3: ("c", 3.0)}

    # replay the SAME batch out-of-band (simulates a crash between the swap
    # and the checkpoint commit): the snapshot must not change
    sink = cdc_merge_sink(snap, ["k"], seq_col="seq")
    sink(b2, epoch_id=99)
    again = {r["k"]: (r["name"], r["val"]) for r in spark.read.parquet(snap).collect()}
    assert again == out


def test_diff_snapshots_roundtrip(spark):
    """merge(old, diff(old, new)) == new — the diff/apply inverse law."""
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)], ["k", "name", "val"]
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 20.0), (4, "d", 4.0), (9, "i", 9.0)], ["k", "name", "val"]
    )  # 1,4 unchanged; 2 updated; 3 deleted; 9 inserted
    batch = cdc.diff_snapshots(old, new, ["k"])
    ops = {(r["k"], r["op"]) for r in batch.collect()}
    assert ops == {(2, "upsert"), (9, "upsert"), (3, "delete")}  # unchanged rows absent
    rebuilt = cdc.merge_changes(old, batch, ["k"])
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))


def test_merge_rejects_unknown_ops(spark):
    """A typo'd op must raise at execution, not silently delete the key."""
    import pytest as _pytest

    t = _target(spark)
    ch = _changes(spark, [(2, "b2", 21.0, "Upsert", 1)])  # wrong case
    with _pytest.raises(Exception, match="unknown CDC op"):
        cdc.merge_changes(t, ch, ["k"], seq_col="seq").collect()


def test_merge_schema_evolution(spark):
    """r5: a feed that starts carrying a new column evolves the snapshot
    with allow_new_columns=True (survivors NULL-filled, upserts carry the
    value) and FAILS FAST without it (never silently drops feed data)."""
    import pytest

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    batch = spark.createDataFrame(
        [(2, "b2", "eu", "upsert"), (3, "c", "us", "upsert")],
        "k int, v string, region string, op string",
    )
    with pytest.raises(ValueError, match="region"):
        cdc.merge_changes(target, batch, ["k"])

    out = cdc.merge_changes(target, batch, ["k"], allow_new_columns=True)
    assert out.columns == ["k", "v", "region"]
    got = {r["k"]: (r["v"], r["region"]) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b2", "eu"), 3: ("c", "us")}

    # replaying the same evolving batch into the evolved snapshot converges
    again = cdc.merge_changes(out, batch, ["k"], allow_new_columns=True)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_merge_evolution_with_compaction_and_deletes(spark):
    """Evolution composes with seq compaction and deletes: the winner per
    key is chosen first, then the evolved columns apply."""
    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    batch = spark.createDataFrame(
        [
            (1, "a1", "x", "upsert", 1),
            (1, "a2", "y", "upsert", 2),   # wins on seq
            (2, None, None, "delete", 1),
            (9, "zz", "z", "delete", 1),   # delete of absent key: no-op
        ],
        "k int, v string, extra string, op string, seq int",
    )
    out = cdc.merge_changes(target, batch, ["k"], seq_col="seq", allow_new_columns=True)
    got = {r["k"]: (r["v"], r["extra"]) for r in out.collect()}
    assert got == {1: ("a2", "y"), 3: ("c", None)}
