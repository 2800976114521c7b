"""Structured Streaming ingestion (SURVEY §2.I — beyond-reference).

The reference's "real-time" is asyncio request/response (README.md:13,106);
it has no stream processing. This module adds the canonical streaming
feature path: events source → watermark → windowed per-user aggregation →
``foreachBatch`` upsert into the feature table. Watermarking bounds state;
the windowed aggregate is the incremental form of the batch extractor.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import conditional_count, conditional_mean, local_frame

#: Sidecar file stamped into a state directory in the SAME atomic swap as
#: the data (sources.writers.atomic_overwrite_parquet extra_files), holding
#: the last micro-batch epoch folded into that state plus the logical
#: stream's ``query_token`` (Delta's ``txnAppId`` idea — epoch ids are
#: only monotone PER CHECKPOINT, so the guard must know which stream
#: wrote them). ``_``-prefixed, so Spark's file listing never sees it —
#: state schemas are unchanged. Format: ``"<epoch>\n<token>"``; markers
#: written before tokens existed parse as token ``""`` (the default).
_EPOCH_MARKER = "_last_epoch"


def _marker_value(epoch_id: int, query_token: str) -> str:
    return f"{epoch_id}\n{query_token}"


def _read_marker(state_path: str) -> tuple[int, str] | None:
    """(last epoch, query token) recorded by the last state swap, or None."""
    import os

    try:
        with open(os.path.join(state_path, _EPOCH_MARKER)) as fh:
            lines = fh.read().splitlines()
        return int(lines[0].strip()), (lines[1] if len(lines) > 1 else "")
    except (OSError, ValueError, IndexError):
        return None


def _epoch_already_applied(
    state_path: str, epoch_id: int, query_token: str = ""
) -> bool:
    """Replay guard for ``foreachBatch`` sinks that fold non-idempotent
    merges (sum/count partials, decayed counters) into a stored state.

    ``foreachBatch`` is at-least-once: when a state swap succeeds but the
    query's checkpoint commit doesn't (crash between the two), Spark
    re-delivers the same micro-batch with the SAME ``epoch_id`` on
    restart. Folding it again double-counts — permanently, since the
    merge laws are associative but not idempotent. The guard makes the
    fold exactly-once: the last-applied epoch travels with the state in
    one atomic rename, so "state updated" and "epoch recorded" cannot
    diverge, and a replayed epoch no-ops.

    Epoch ids are only monotone per CHECKPOINT, and Spark only ever
    re-delivers the single newest uncommitted batch — so from the same
    logical stream the only legitimate repeat is ``epoch_id == last``.
    ``epoch_id < last`` can only mean a DIFFERENT stream (a new query
    with a fresh checkpoint reusing this state directory, or a restored
    checkpoint backup): silently no-oping would discard that stream's
    first ``last+1`` batches with no error, so it raises instead. To
    intentionally fold a new stream into existing state, pass the sink a
    fresh ``query_token`` — a marker written under a different token
    resets the guard."""
    marker = _read_marker(state_path)
    if marker is None:
        return False
    last, stored_token = marker
    if stored_token != query_token:
        return False  # new logical stream takes over; next swap re-stamps
    if epoch_id < last:
        raise ValueError(
            f"foreachBatch epoch {epoch_id} is older than the last epoch "
            f"{last} applied to state '{state_path}' by the same stream "
            f"(query_token={query_token!r}). Epoch ids restart at 0 with "
            "every new checkpoint, so this state directory is being reused "
            "by a different streaming query — its batches would be "
            "silently discarded by the replay guard. Pass a fresh "
            "query_token= to the sink to fold the new stream into this "
            "state, or point it at a new state directory."
        )
    return epoch_id == last


def _guard_epoch_dir_reuse(
    base_path: str, epoch_id: int, query_token: str
) -> None:
    """Collision guard for sinks that write ``epoch={id}`` directories
    under ``base_path``: those directories are keyed by epoch id alone,
    so a DIFFERENT stream (fresh checkpoint → epochs restart at 0)
    writing into the same base path silently overwrites earlier epochs'
    data. Unlike the state-swap guard there is nothing to skip — the
    per-epoch overwrite is already replay-idempotent — so this only
    detects foreign reuse and raises."""
    marker = _read_marker(base_path)
    if marker is None:
        return
    last, stored_token = marker
    if stored_token != query_token or epoch_id < last:
        raise ValueError(
            f"output path '{base_path}' already holds epochs up to {last} "
            f"written under query_token={stored_token!r}; this write "
            f"(epoch {epoch_id}, query_token={query_token!r}) comes from a "
            "different streaming query and would overwrite per-epoch "
            "directories keyed only by epoch id. Point the new query at a "
            "fresh output path (or resume from the original checkpoint)."
        )


def _stamp_marker(base_path: str, epoch_id: int, query_token: str) -> None:
    """Write-tmp + atomic rename: a crash mid-write must never leave a
    truncated marker (e.g. the epoch line without the token line), which
    would parse as a FOREIGN stream and wedge every subsequent replay of
    the epoch-dir sinks behind a spurious reuse error. The state sinks
    already get this for free (their marker rides atomic_overwrite_parquet's
    tmp-dir + rename); this gives the epoch-dir sinks the same guarantee."""
    import os

    tmp = os.path.join(base_path, f".{_EPOCH_MARKER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(_marker_value(epoch_id, query_token))
    os.replace(tmp, os.path.join(base_path, _EPOCH_MARKER))


def streaming_feature_aggregation(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    amount_col: str = "value",
    ts_col: str = "ts",
    window_duration: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed per-user feature aggregation over a streaming DataFrame.

    Late events beyond ``watermark`` are dropped (state stays bounded);
    aggregates mirror the batch extractor's C1–C4 shapes so downstream
    consumers see the same columns per (user, window).
    """
    amount = F.col(amount_col)
    purchase = amount > 0
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            conditional_count(purchase).alias("total_purchases"),
            F.sum(amount).alias("total_amount"),
            conditional_mean(amount, purchase).alias("avg_amount"),
            F.approx_count_distinct("event_type").alias("unique_event_types"),
        )
    )


def upsert_sink(
    store_path: str, *, query_token: str = ""
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink: write each micro-batch into the feature
    table under its own ``epoch_id={id}`` partition directory with
    OVERWRITE — the only append shape that is exactly-once under
    ``foreachBatch``'s at-least-once contract. A replayed micro-batch
    (same ``epoch_id``, re-delivered when a write lands but the
    checkpoint commit doesn't) rewrites the same directory with the same
    rows instead of appending duplicates. (The r6 audit flagged the old
    plain-append-with-an-epoch-column form: the native file sink's
    ``_spark_metadata`` batch-id dedup does NOT apply inside
    ``foreachBatch``.) Readers take ``store_path`` — partition discovery
    unions the epochs and surfaces ``epoch_id`` as a column.

    The directories are keyed by epoch id alone and epoch ids restart at
    0 with every new checkpoint, so a NEW query reusing this store path
    would overwrite earlier epochs' features: a ``_last_epoch`` marker
    (epoch + ``query_token``) detects foreign reuse and raises instead of
    silently corrupting the table."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        _guard_epoch_dir_reuse(store_path, epoch_id, query_token)
        (
            batch.withColumn("window_start", F.col("window.start"))
            .withColumn("window_end", F.col("window.end"))
            .drop("window")
            .write.mode("overwrite")
            .parquet(f"{store_path}/epoch_id={epoch_id}")
        )
        _stamp_marker(store_path, epoch_id, query_token)

    return write


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach (slowly-changing) dimension
    attributes to each event. Spark plans the static side as a broadcast
    against every micro-batch — no stream-side shuffle, no state. The dim
    table is re-read per batch, so an overwritten dim parquet shows up on
    the next trigger without restarting the query."""
    return events.join(F.broadcast(dim), on, how)


def incremental_state_sink(
    state_path: str, keys: list[str], value_col: str, *, query_token: str = ""
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink that maintains a mergeable aggregate STATE
    table (operators.incremental): each micro-batch folds to per-key
    partials and merges with the stored state — O(batch + |state|) per
    trigger, never a rescan of history. The merged state is swapped in
    atomically (temp-path + rename) together with a last-applied-epoch
    marker, so a crash between the swap and the checkpoint commit is
    safe: Spark re-delivers the batch with the same epoch id and the
    guard no-ops instead of double-merging the (non-idempotent) sum/count
    partials. Read-side: ``incremental.finalize(spark.read.parquet(path))``.

    ``query_token`` identifies the logical stream (stable across restarts
    of the same checkpoint — e.g. derive it from the checkpoint path);
    pass a fresh one when a NEW query (fresh checkpoint, epochs restart
    at 0) should fold into existing state, else the guard raises on the
    epoch regression instead of silently discarding the new stream's
    first batches.
    """
    import os

    from ..operators import incremental
    from ..sources.writers import atomic_overwrite_parquet

    def write(batch: DataFrame, epoch_id: int) -> None:
        if _epoch_already_applied(state_path, epoch_id, query_token):
            return
        new = incremental.aggregate_state(batch, keys, value_col)
        spark = batch.sparkSession
        if os.path.exists(state_path):
            prev = spark.read.parquet(state_path)
            new = incremental.merge_states(prev, new)
        # the merge result lazily reads state_path, which the swap is about
        # to replace — materialize the plan before touching the directory
        new = new.localCheckpoint()
        atomic_overwrite_parquet(
            new, state_path, extra_files={_EPOCH_MARKER: _marker_value(epoch_id, query_token)}
        )

    return write


def incremental_near_dup_sink(
    sig_path: str,
    pairs_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 10_000,
    query_token: str = "",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for CONTINUOUS near-dup detection: each
    micro-batch of documents is checked against the standing corpus via
    :func:`~..operators.dedup.lsh_candidate_pairs_incremental` (stored
    MinHash signatures, corpus-only buckets pruned), then its own
    signatures join the store — O(batch + touched buckets) per trigger,
    never a rescan of history. Within-batch pairs are emitted too (the
    incremental operator keeps new-new pairs by construction).

    Both outputs are written to ``epoch={id}`` subdirectories with
    overwrite, so a replayed batch (Spark checkpoint recovery) lands on
    the same paths — idempotent, like the atomic swap in
    :func:`incremental_state_sink`. Readers take the base paths
    (partition discovery unions the epochs). ``num_hashes``/``bands``
    must stay fixed for the life of the store — signatures are only
    comparable under one hash family.
    """
    from ..operators.dedup import lsh_candidate_pairs_incremental, minhash_signatures

    def write(batch: DataFrame, epoch_id: int) -> None:
        _guard_epoch_dir_reuse(sig_path, epoch_id, query_token)
        spark = batch.sparkSession
        try:
            sigs = spark.read.parquet(sig_path)
            if "epoch" in sigs.columns:
                # a REPLAYED batch (checkpoint recovery) finds its own
                # epoch's signatures already stored — including them would
                # pair every batch doc with itself; the corpus is
                # everything strictly before this epoch
                sigs = sigs.filter(F.col("epoch") != epoch_id).drop("epoch")
        except Exception:
            # first batch: empty signature store with the right schema
            sigs = minhash_signatures(batch.limit(0), id_col, text_col, num_hashes)
        pairs = lsh_candidate_pairs_incremental(
            batch,
            batch.limit(0),  # corpus df unused when signatures are supplied
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            max_bucket_size=max_bucket_size,
            corpus_signatures=sigs,
        )
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/epoch={epoch_id}")
        minhash_signatures(batch, id_col, text_col, num_hashes).write.mode(
            "overwrite"
        ).parquet(f"{sig_path}/epoch={epoch_id}")
        _stamp_marker(sig_path, epoch_id, query_token)

    return write


def cdc_merge_sink(
    snapshot_path: str,
    keys: list[str],
    *,
    op_col: str = "op",
    seq_col: str | None = None,
    query_token: str = "",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink that maintains a MERGE-INTO snapshot
    (operators.cdc): each micro-batch of change rows (upserts + deletes,
    optionally multi-version per key via ``seq_col``) folds into the
    stored snapshot with the broadcast-anti apply — O(batch + |snapshot|
    scan) per trigger, the snapshot never shuffles. Atomic temp-path +
    rename swap, and :func:`~..operators.cdc.merge_changes` is idempotent
    under replay, so a crash between the swap and the checkpoint commit
    just re-applies the same batch to the same effect (exactly-once
    OUTPUT without exactly-once plumbing). Read-side: plain
    ``spark.read.parquet(snapshot_path)``.
    """
    import os

    from ..operators import cdc
    from ..sources.writers import atomic_overwrite_parquet

    def write(batch: DataFrame, epoch_id: int) -> None:
        # merge_changes is idempotent under replay (same upserts/deletes
        # re-apply to the same effect) — the epoch marker just skips the
        # redundant re-merge job on a re-delivered batch
        if _epoch_already_applied(snapshot_path, epoch_id, query_token):
            return
        spark = batch.sparkSession
        data_cols = [c for c in batch.columns if c not in (op_col, seq_col)]
        if os.path.exists(snapshot_path):
            target = spark.read.parquet(snapshot_path)
        else:
            target = local_frame(spark, [], batch.select(*data_cols).schema)
        merged = cdc.merge_changes(
            target, batch, keys, op_col=op_col, seq_col=seq_col
        )
        # the merge lazily reads snapshot_path, which the swap replaces —
        # materialize first (same pattern as incremental_state_sink)
        merged = merged.localCheckpoint()
        atomic_overwrite_parquet(
            merged, snapshot_path, extra_files={_EPOCH_MARKER: _marker_value(epoch_id, query_token)}
        )

    return write


def bloom_dedup_sink(
    bloom_path: str,
    out_path: str,
    key_col: str,
    *,
    n_bits: int = 1 << 20,
    depth: int = 4,
    hash_fn: str = "md5",
    query_token: str = "",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for cross-epoch dedup with BOUNDED state: a
    persisted bloom bitmap (≤ n_bits/32 rows forever, vs an ever-growing
    seen-keys table) filters each micro-batch; survivors append to
    ``out_path`` and their bits merge into the bitmap.

    The approximation is one-sided and safe for dedup: a false positive
    DROPS a genuinely-new row (rate ≈ (1−e^(−depth·n/n_bits))^depth —
    size ``n_bits`` ≥ ~15× expected distinct keys for <1e-4), while
    duplicates are NEVER re-emitted. Exactly the trade a 100 TB stream
    wants when the key universe outgrows stateful-dedup memory; use
    ``stateful.dedup_stream`` (watermark-bounded exact state) when keys
    expire instead of accumulating.

    Batch-local duplicates collapse via exact dedup first (lowest-id
    row semantics are irrelevant for same-key rows within one batch —
    first by key order wins deterministically).

    Replay safety (exactly-once): survivors land in an
    ``epoch={id}``-overwrite directory FIRST, then the bitmap + a
    last-applied-epoch marker swap in one atomic rename. A replayed
    batch (checkpoint recovery) either (a) finds the marker already at
    its epoch — both writes landed, no-op — or (b) finds the PRE-batch
    bitmap, recomputes the identical novel set, and overwrites the same
    epoch directory. Neither duplicates output rows nor drops novel rows
    as "seen" — the two failure modes of the old append-then-swap form.
    Readers take ``out_path`` (partition discovery unions the epochs).

    Because the survivor output is keyed by epoch id alone, a DIFFERENT
    stream reusing these paths (fresh checkpoint → epochs restart at 0)
    would overwrite earlier epochs' survivors — so, like the near-dup
    sink, foreign reuse raises; there is no token-takeover path here.
    Point a new query at fresh ``bloom_path``/``out_path``."""
    import os

    from ..operators import sketches
    from ..sources.writers import atomic_overwrite_parquet

    def write(batch: DataFrame, epoch_id: int) -> None:
        # unlike the pure state sinks, this sink ALSO owns epoch={id}
        # output directories keyed by epoch id alone — a new stream
        # (fresh checkpoint, epochs restart at 0) taking over the bloom
        # state via a new query_token would silently overwrite earlier
        # epochs' survivor output; like the near-dup sink, foreign reuse
        # raises instead (point the new query at fresh paths)
        _guard_epoch_dir_reuse(bloom_path, epoch_id, query_token)
        if _epoch_already_applied(bloom_path, epoch_id, query_token):
            return
        spark = batch.sparkSession
        w = Window.partitionBy(key_col).orderBy(*[c for c in batch.columns])
        local = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if os.path.exists(bloom_path):
            state = spark.read.parquet(bloom_path)
            probed = sketches.bloom_probe(
                local, state, key_col, n_bits=n_bits, depth=depth, hash_fn=hash_fn
            )
            novel = probed.filter(~F.col("bloom_pass")).drop("bloom_pass")
        else:
            state = None
            novel = local
        novel = novel.localCheckpoint()  # both writes below reuse it
        # output BEFORE bit swap, to an idempotent per-epoch directory
        novel.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
        new_bits = sketches.bloom_state(
            novel, key_col, n_bits=n_bits, depth=depth, hash_fn=hash_fn
        )
        merged = (
            sketches.merge_bloom_states(state, new_bits) if state is not None else new_bits
        )
        atomic_overwrite_parquet(
            merged.localCheckpoint(), bloom_path,
            extra_files={_EPOCH_MARKER: _marker_value(epoch_id, query_token)},
        )

    return write


def decayed_counter_sink(
    state_path: str,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    half_life_seconds: float,
    query_token: str = "",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining ONLINE decayed counters (the
    streaming twin of ``fe.decayed_agg``): each micro-batch folds to a
    per-key decayed state referenced to the key's latest timestamp and
    merges with the stored state — the merge law is associative and
    order-independent (``fe.merge_decayed_states``), so the maintained
    state equals the batch recompute over all history at every trigger —
    including across checkpoint replays, because the last-applied epoch
    id commits in the same atomic swap as the state and a re-delivered
    batch no-ops (the merge law is NOT idempotent, so without the guard a
    replay would double-count forever). O(batch + |keys|) work, no
    history rescan. Serve with
    ``fe.finalize_decayed(spark.read.parquet(path), key, asof=now)``.
    """
    import os

    from ..operators import fe
    from ..sources.writers import atomic_overwrite_parquet

    def write(batch: DataFrame, epoch_id: int) -> None:
        if _epoch_already_applied(state_path, epoch_id, query_token):
            return
        new = fe.decayed_state(
            batch, key_col, ts_col, value_col, half_life_seconds=half_life_seconds
        )
        spark = batch.sparkSession
        if os.path.exists(state_path):
            prev = spark.read.parquet(state_path)
            new = fe.merge_decayed_states(
                prev, new, key_col, half_life_seconds=half_life_seconds
            )
        new = new.localCheckpoint()
        atomic_overwrite_parquet(
            new, state_path, extra_files={_EPOCH_MARKER: _marker_value(epoch_id, query_token)}
        )

    return write


def distinct_counter_sink(
    state_path: str,
    keys: list[str],
    value_col: str,
    *,
    lg_k: int = 12,
    query_token: str = "",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining per-key DISTINCT counts over
    unbounded history in O(keys) space: each micro-batch sketches to HLL
    state and unions with the store (``operators.incremental
    .distinct_state`` / ``merge_distinct_states`` — HLL union is
    idempotent, so checkpoint replay converges). Same atomic-swap
    durability as :func:`incremental_state_sink`. Read side:
    ``incremental.finalize_distinct(spark.read.parquet(path))``."""
    import os

    from ..operators import incremental
    from ..sources.writers import atomic_overwrite_parquet

    def write(batch: DataFrame, epoch_id: int) -> None:
        # HLL union is idempotent, so replay is CORRECT without a guard —
        # the epoch marker just skips the redundant re-union job
        if _epoch_already_applied(state_path, epoch_id, query_token):
            return
        new = incremental.distinct_state(batch, keys, value_col, lg_k=lg_k)
        spark = batch.sparkSession
        if os.path.exists(state_path):
            prev = spark.read.parquet(state_path)
            new = incremental.merge_distinct_states(prev, new)
        new = new.localCheckpoint()
        atomic_overwrite_parquet(
            new, state_path, extra_files={_EPOCH_MARKER: _marker_value(epoch_id, query_token)}
        )

    return write


def streaming_session_aggregation(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """NATIVE session-window aggregation over a stream — the streaming
    twin of :func:`~..operators.windows.session_window_agg` (same
    ``F.session_window`` expression, same output columns), so the batch
    form IS this stream's backfill: a session emitted here (append mode,
    after the watermark passes its close) equals the row the batch
    operator computes over the same events — equivalence-tested in
    ``test_stateful_streaming.py``.

    State: Spark merges overlapping per-event windows in the session
    aggregation and evicts a session once the watermark passes
    ``last event + gap``; state is bounded by open sessions per key.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col)).alias("total_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
