"""Structured Streaming variant of the migrate pipeline (SURVEY.md §7 step 7).

The reference is strictly batch ("time series" describes its data domain,
not stream processing — SURVEY.md §2.7), so this is an extension: the same
``TransformSpec`` semantics applied to an unbounded source.

Shape: ``readStream`` (file source — at scale: Kafka/Kinesis) → transform →
time-validity filter → either

* :func:`migrate_stream` — per-micro-batch delivery through any batch
  :class:`~node_mongo2influx_spark.sinks.base.Sink` via ``foreachBatch``
  (reuses the exact batch writers, including the InfluxDB line-protocol
  sink), or
* :func:`windowed_rollup_stream` — watermarked tumbling-window aggregation
  with late-data handling, the streaming analogue of rollup_events_daily.

Micro-batch atomicity note: ``foreachBatch`` provides at-least-once into
non-idempotent sinks; pair with the sink's (series, time, content-hash)
dedup key for effectively-once, as in batch (sinks/base.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from node_mongo2influx_spark.operators.transform import TransformSpec
from node_mongo2influx_spark.sinks.base import Sink
from node_mongo2influx_spark.sinks.parquet import read_store, write_batch_log


def read_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-based streaming source over a directory of ``fmt`` files."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def migrate_stream(
    source: DataFrame,
    transform: TransformSpec,
    sink: Sink,
    series: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Continuous migrate: transform + time-filter each micro-batch, deliver
    through the batch sink adapter (foreachBatch).

    ``transform.valid`` (not ``apply``) is used — streaming plans can't
    carry ``observe`` the same way, so null-time rows are dropped without
    accounting and no per-batch counts are reported.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink.write(batch_df, series)

    return _start(
        transform.valid(source), write_batch, checkpoint_dir, trigger_once
    )


def _start(
    frame: DataFrame, write_batch, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Start ``frame`` with ``write_batch(batch_df, batch_id)`` run on every
    micro-batch (``foreachBatch``), checkpointed in ``checkpoint_dir``;
    ``available_now`` drains what the source holds and stops."""
    writer = (
        frame.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_user_totals(
    source: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    timeout_minutes: int = 60,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    (count, sum) per key maintained across micro-batches, emitted on every
    update, state evicted after ``timeout_minutes`` of processing-time
    inactivity (bounded state — the requirement for long-lived streams).

    Output: (key, n_events, total) — the streaming analogue of a
    continuously-maintained per-user aggregate.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "total": [round(total, 2)]}
        )

    return (
        source.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType="key long, n_events long, total double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def dedup_stream(
    source: DataFrame,
    keys: list[str],
    time_col: str = "time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until the
    watermark passes it — duplicates arriving within the lateness bound are
    dropped, state is evicted after, so 100 TB/day streams don't accumulate
    an unbounded seen-set. (Plain dropDuplicates on a stream never forgets.)
    """
    return source.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def session_window_stream(
    source: DataFrame,
    time_col: str = "time",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Event-time session windows: a session closes after ``gap`` of
    inactivity per key (dynamic-length windows, state bounded by the
    watermark). The streaming analogue of the batch sessionize_events
    query."""
    return (
        source.withWatermark(time_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(time_col), gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("total"),
        )
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n",
            "total",
        )
    )


def enrich_stream(
    source: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the (bounded)
    dimension table — no watermark, no state, because the static side is
    re-resolved per batch (picking up dim updates between batches). The
    streaming analogue of the batch star join; Spark broadcasts the static
    side when it fits, same size rules as batch."""
    return source.join(dim, keys, how)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_time: str = "l_time",
    right_time: str = "r_time",
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join within an event-time interval: a right-side
    row matches left-side rows of the same key whose event time falls in
    ``[right_time - max_delay, right_time]`` (e.g. clicks attributed to a
    purchase they preceded).

    Both sides carry watermarks and the join predicate bounds the time
    difference in BOTH directions — that pair is what lets Spark evict
    buffered state once the watermark passes a row's match window; an
    unbounded condition would buffer each side forever. State per key is
    O(rows within max_delay + watermark), independent of stream length.
    """
    l = left.withWatermark(left_time, watermark)
    r = right.withWatermark(right_time, watermark)
    return l.join(
        r,
        (l[key_col] == r[key_col])
        & (F.col(left_time) <= F.col(right_time))
        & (F.col(left_time) >= F.col(right_time) - F.expr(f"INTERVAL {max_delay}")),
    ).select(
        l[key_col].alias("key"),
        F.col(left_time),
        F.col(right_time),
    )


def windowed_rollup_stream(
    source: DataFrame,
    time_col: str = "time",
    key_col: Optional[str] = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregate over an event-time stream.

    Late rows beyond ``watermark`` are dropped and their state evicted —
    bounded state at 100 TB/day stream rates. Returns the unbounded
    aggregated DataFrame; caller attaches a writeStream.
    """
    keys = [F.window(F.col(time_col), window_duration).alias("win")]
    if key_col:
        keys.append(F.col(key_col))
    return (
        source.withWatermark(time_col, watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("total"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *( [F.col(key_col)] if key_col else [] ),
            "n",
            "total",
        )
    )


def incremental_dedup_stream(
    source: DataFrame,
    out_dir: str,
    fp_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Continuous corpus ingestion with cross-batch exact dedup against a
    DURABLE fingerprint store — the streaming face of
    ``operators.dedup.incremental_exact``.

    Per micro-batch: fingerprint the arriving documents (md5 of text),
    keep the first occurrence within the batch (min id per fp), anti-join
    against the persisted fingerprint table, then

    1. write survivors to ``out_dir`` as one batch of a log store
       (:func:`~node_mongo2influx_spark.sinks.parquet.write_batch_log`:
       a replayed micro-batch rewrites its own partition instead of
       duplicating it);
    2. append survivors' fingerprints to ``fp_dir`` — duplicate fp rows
       from a replay are harmless (anti-join semantics are set-based), so
       this side needs no transactionality.

    Together the two writes are replay-idempotent without a transaction
    coordinator. State is the fingerprint table itself — 16 bytes per
    unique document, partition-pruned/bucketable, shared with the batch
    path — not in-memory streaming state, so it survives restarts and is
    queryable. At 100 TB scale, compact ``fp_dir`` periodically
    (sinks/parquet.py compaction) and bucket it by fp so each batch's
    anti-join is co-located.
    """
    spark = source.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        b = batch_df.withColumn("fp", F.md5(F.col(text_col)))
        b = (
            b.withColumn(
                "min_id", F.min(id_col).over(Window.partitionBy("fp"))
            )
            .where(F.col("min_id") == F.col(id_col))
            .drop("min_id")
        )
        # no fingerprint store yet reads as empty; any other read
        # failure fails the batch instead of silently skipping the dedup
        seen = read_store(spark, fp_dir, "fp string").select("fp")
        b = b.join(seen, "fp", "left_anti").cache()
        try:
            write_batch_log(b.drop("fp"), out_dir, batch_id)
            b.select("fp").write.mode("append").parquet(fp_dir)
        finally:
            b.unpersist()

    return _start(source, write_batch, checkpoint_dir)


def rollup_maintenance_stream(
    source: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> StreamingQuery:
    """Continuously maintain the 5-minute rollup as an APPEND-ONLY log of
    mergeable exact-integer partials — the streaming face of
    ``rollup_incremental_refresh``'s merge algebra.

    Per micro-batch: aggregate the arriving events to (key, bucket,
    count, cent-sum, cent-min, cent-max) partials and write them as one
    batch of a log store
    (:func:`~node_mongo2influx_spark.sinks.parquet.write_batch_log`) —
    replay-idempotent with no read-modify-write, because the store is a
    log of partials, not the merged result. Readers merge on read
    (:func:`read_rollup_store`: one groupBy-sum, exact because the
    partials are integers); periodic compaction
    (``sinks/parquet.py``) collapses the log so the merge stays
    O(batches-since-compaction). This is the continuous-aggregate
    design that avoids the per-batch base-rescan a merged store would
    need at 100 TB: each batch writes O(its own buckets) rows and
    touches nothing else.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials = batch_df.groupBy(
            F.col(key_col),
            F.window(time_col, "5 minutes").start.alias("bucket"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("c_sum"),
            F.min(cents).alias("c_min"),
            F.max(cents).alias("c_max"),
        )
        write_batch_log(partials, store_dir, batch_id)

    return _start(source, write_batch, checkpoint_dir)


def _reduce_last_write(
    batch_df: DataFrame,
    keys: tuple[str, ...],
    op_col: str | None = None,
    delete_op: str = "d",
    keep_order_col: bool = False,
):
    """Deterministic last-write-wins reduction of a CDC micro-batch,
    shared by :func:`cdc_apply_stream` and
    :func:`ann_index_maintenance_stream`. Returns ``(live, dels)`` —
    both derived from ONE ``localCheckpoint``'d reduction (every
    downstream action would otherwise re-execute the window/struct-max
    subtree); ``dels`` is None when no op column is in play, else the
    keys whose FINAL event retracts. The op/order columns are dropped
    from ``live`` — unless ``keep_order_col`` (the guarded-upsert path
    persists the version with the rows); ``dels`` keeps every batch
    column.

    Ordering: a monotonic ``__seq`` column when present (REQUIRED with
    ``op_col`` — retraction is an order decision and the fallback
    orders by value); else the deterministic lexicographic struct-max
    over the non-key columns (map columns refused with an actionable
    message — they are unorderable and would kill the stream mid-batch
    with an opaque AnalysisException)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    order_col = "__seq" if "__seq" in batch_df.columns else None
    if op_col is not None and op_col in batch_df.columns and not order_col:
        # retraction semantics are ORDER semantics: without an event
        # order, the struct-max fallback would decide delete-vs-upsert
        # by comparing data VALUES (an update with a high value would
        # beat a later delete) — refuse rather than silently lose
        # retractions
        raise ValueError(
            "op_col needs a monotonic __seq column "
            "— the deterministic struct-max fallback orders rows by "
            "VALUE, which cannot decide delete-vs-upsert recency"
        )
    if keep_order_col and not order_col:
        raise ValueError(
            "keep_order_col requires a monotonic __seq column in the feed"
        )
    if order_col:
        drop_cols = ["__rk"] if keep_order_col else ["__rk", order_col]
        last = batch_df.withColumn(
            "__rk",
            F.row_number().over(w.orderBy(F.col(order_col).desc())),
        ).where(F.col("__rk") == 1).drop(*drop_cols)
    else:
        # Deterministic reduction (dropDuplicates keeps a
        # scheduling-dependent row, which would break replay
        # idempotence): lexicographic max over a struct of every
        # non-key column picks the same row however the batch was
        # partitioned.
        non_key = [c for c in batch_df.columns if c not in keys]
        # struct-max needs ORDERABLE types; fail at once with an
        # actionable message (an __seq column sidesteps the reduction).
        from pyspark.sql.types import MapType

        unorderable = [
            f.name
            for f in batch_df.schema.fields
            if f.name in non_key and isinstance(f.dataType, MapType)
        ]
        if unorderable:
            raise ValueError(
                "deterministic struct-max fallback "
                f"cannot order map columns {unorderable}; add a "
                "monotonic __seq column to the feed (or drop/serialize "
                "the map columns)"
            )
        if non_key:
            last = (
                batch_df.groupBy(*keys)
                .agg(F.max(F.struct(*non_key)).alias("__row"))
                .select(
                    *keys, *(F.col(f"__row.{c}").alias(c) for c in non_key)
                )
            )
        else:
            # key-only feed: every column is part of the key, so
            # dropDuplicates IS deterministic here
            last = batch_df.dropDuplicates(list(keys))
    # the reduction is consumed by EVERY downstream action — without
    # this checkpoint the window/struct-max subtree re-executes per
    # action (CLAUDE.md round-5 rule: >=2 consumers ⇒ checkpoint)
    last = last.localCheckpoint(eager=True)
    dels = None
    if op_col is not None and op_col in last.columns:
        # per-key op resolved AFTER the last-write-wins reduction:
        # the key's FINAL event decides retract vs upsert
        dels = last.where(F.col(op_col) == delete_op)
        last = last.where(
            F.col(op_col).isNull() | (F.col(op_col) != delete_op)
        ).drop(op_col)
    return last, dels


def cdc_apply_stream(
    source: DataFrame,
    sink,
    series: str,
    keys: tuple[str, ...],
    checkpoint_dir: str,
    sweep_moved_keys: bool = False,
    prev_cols: tuple[str, ...] | None = None,
    op_col: str | None = None,
    delete_op: str = "d",
    guard_seq: bool = False,
    evolve_schema: bool = False,
) -> StreamingQuery:
    """Apply a change feed to a partitioned parquet store: each
    micro-batch of (key, new values) rows MERGEs via
    ``ParquetSink.upsert`` — replacement on key collision, append on new
    keys, only delta-touched partitions rewritten.

    This is the continuous face of the Mongo→store migration for a
    LIVE collection: ``sources/mongospool.py``'s streaming reader tails
    the export spool, this applies it. Replay-idempotent WITHOUT
    coordination because upsert itself is idempotent: a replayed batch
    re-replaces the same keys with the same values, leaving the store
    byte-equal (last-write-wins per key per batch; cross-batch order is
    the stream's batch order, which the checkpoint serializes).

    ``sweep_moved_keys=True`` additionally runs
    ``ParquetSink.sweep_moved_keys`` after each upsert, deleting stale
    copies of keys whose PARTITION VALUE changed (a record that moved
    from day A to day B leaves its old row in A otherwise). Pass
    ``prev_cols`` when the feed carries a before-image of the partition
    columns (e.g. ``__prev_day``) — the sweep is then O(delta); without
    it, a column-pruned key-location scan finds the stale partitions.
    Before-image columns are dropped from the stored rows. The sweep is
    idempotent, so replay semantics are unchanged.

    ``op_col`` names a CDC operation column (Debezium ``op``-style):
    rows whose op equals ``delete_op`` RETRACT their key
    (``ParquetSink.delete_keys``) instead of upserting it; the op is
    resolved per key AFTER last-write-wins reduction, so an
    update-then-delete batch deletes and a delete-then-reinsert batch
    reinserts. REQUIRES a monotonic ``__seq`` column — retraction is an
    ORDER decision, and the struct-max fallback orders by value. The op
    column is dropped from stored rows. Deletes are idempotent, so
    replay semantics are unchanged; a key that migrated partitions
    before its delete (same batch or, with ``sweep_moved_keys`` +
    ``prev_cols``, earlier batches) is retracted from its old partitions
    too — without before-images that costs the same key-location scan
    the sweep uses.

    ``guard_seq=True`` persists ``__seq`` with the stored rows and makes
    the per-batch MERGE version-guarded (``ParquetSink.upsert``'s
    ``order_col``): a stale update arriving in a LATER batch loses to
    the newer stored version instead of silently regressing it — the
    plain mode's cross-batch correctness is an ordered-delivery
    assumption on the feed. Alone, the guard compares within the
    touched partitions and so requires PARTITION-STABLE keys; with
    ``sweep_moved_keys=True`` the batch goes through
    ``ParquetSink.upsert_guarded_moving`` instead (round 8, VERDICT r7
    #4) — the rank-window guard applied GLOBALLY per key, with the
    key-location scan finding a key's current partition (a stale
    event's claimed partition AND its before-image are both stale, so
    neither is trusted for location; the separate sweep is subsumed —
    the merge itself drops vacated copies). Remaining documented
    limit in every mode: retraction ordering still assumes the delete
    arrives after the updates it supersedes (a late pre-delete update
    resurrects the key; full tolerance needs a persisted tombstone
    log, which this deliberately is not).

    ``evolve_schema=True`` passes the flag to ``ParquetSink.upsert`` and
    reads the store with ``mergeSchema`` — the continuous face of a
    schemaless source collection that grew a field: stored history
    null-fills the new column, only touched partitions are rewritten
    with the widened schema. (The STREAM's own schema is fixed per run
    — restart the query with the widened feed schema; older feed files
    null-fill under it.)

    ``sink`` must be a ``ParquetSink(dynamic_overwrite=True)``; the
    delta must carry the sink's partition columns.
    """
    if guard_seq and "__seq" not in source.columns:
        # fail at construction, not mid-batch inside foreachBatch
        raise ValueError(
            "guard_seq needs a monotonic __seq column in the feed — it "
            "is the persisted version the merge compares"
        )
    spark = source.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        last, dels = _reduce_last_write(
            batch_df, keys, op_col, delete_op, keep_order_col=guard_seq
        )
        if evolve_schema:
            # an evolved store is mixed-schema across partitions; a plain
            # read samples one footer and would miss history-only columns
            rd = lambda p: spark.read.option(  # noqa: E731
                "mergeSchema", "true"
            ).parquet(p)
        else:
            rd = lambda p: spark.read.parquet(p)  # noqa: E731
        if dels is not None:
            dels_has_rows = dels.limit(1).count() > 0
        # before-image / op columns ride the sweep, never the store
        stored = last.drop(*prev_cols) if prev_cols else last
        if guard_seq and sweep_moved_keys:
            # migrating keys + out-of-order feed: the global guarded
            # merge (key-location scan + per-key rank window) subsumes
            # both the partition-scoped guard and the sweep
            sink.upsert_guarded_moving(
                rd, stored, series, keys=keys, order_col="__seq",
                evolve_schema=evolve_schema,
            )
        else:
            sink.upsert(
                rd, stored, series, keys=keys,
                order_col="__seq" if guard_seq else None,
                evolve_schema=evolve_schema,
            )
            if sweep_moved_keys:
                sink.sweep_moved_keys(
                    rd,
                    last,
                    series,
                    keys=keys,
                    prev_cols=prev_cols,
                    # the UN-reduced batch: a key migrating twice in one
                    # batch (A→B→C) keeps only B's before-image in
                    # `last`, which would strand the stale copy in A
                    prev_source=batch_df,
                )
        if dels is not None and dels_has_rows:
            sink.delete_keys(
                rd,
                dels,
                series,
                keys=keys,
                prev_cols=prev_cols,
                # the UN-reduced batch: a key that migrated partitions
                # and was deleted in the SAME batch names its old
                # partition only on its earlier events' before-images
                loc_source=batch_df,
                # keys that can migrate ACROSS batches with no
                # before-image in the feed are findable only by the
                # key-location scan (the tier the sweep itself uses in
                # this configuration)
                # guarded-moving mode scans unconditionally: a stale
                # event's before-image is stale too, so only the
                # key-location scan can name a migrated key's partitions
                force_scan=sweep_moved_keys
                and (guard_seq or prev_cols is None),
            )

    return _start(source, write_batch, checkpoint_dir)


_DRIFT_LOG_SCHEMA = (
    "base_rel_err double, delta_rel_err double, ratio double, "
    "rebuild boolean, n_base long, n_delta long"
)


def ann_index_maintenance_stream(
    source: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str | None = None,
    delete_op: str = "d",
    drift_log_dir: str | None = None,
    drift_rebuild_factor: float = 2.0,
    drift_sample_rows: int = 4096,
) -> StreamingQuery:
    """Continuous maintenance of a persisted IVFPQ index from a vector
    change feed — the ANN-side companion of :func:`cdc_apply_stream`
    (store rows retract/upsert there; index entries retract/re-encode
    here; run both off the same feed for a searchable, continuously
    deduplicated corpus).

    Per micro-batch, after the shared last-write-wins reduction
    (:func:`_reduce_last_write`; ``__seq`` required with ``op_col``):

    * retracted keys: :func:`operators.similarity.delete_from_ivfpq_index`
      — inverted lists pruned to touched cells, vectors vacuumed by
      id-hash bucket;
    * live keys: delete-then-append with the FROZEN quantizer
      (:func:`append_to_ivfpq_index`) — the delete first, because an
      UPDATE may move the vector to a different cell, and because a
      stale vectors-store row sharing a live vid would reach the
      rerank join (vacuum is mandatory on this path, not optional).

    Replay-idempotent WITHOUT coordination: delete-then-append of the
    same reduced batch converges to the same index state (the delete
    removes whatever the previous attempt appended), and a replayed
    pure delete locates nothing. CROSS-batch ordering is an
    ordered-delivery assumption on the feed (same as plain
    :func:`cdc_apply_stream`): a stale vector update in a LATER batch
    overwrites a newer one — the index stores carry no version column,
    so there is no ``guard_seq`` twin here; feed this stream from a
    per-key-ordered log. Cost per batch is O(|delta| + touched
    cells + touched buckets) plus the thin (vid, cell) location scan —
    the quantizer is never retrained (drift means rebuild, the
    documented FAISS add() trade).

    Pass ``drift_log_dir`` to make that trade OBSERVABLE: each batch
    with live keys runs :func:`operators.similarity.ivfpq_drift_probe`
    on its reduced delta — judged against the ``drift_baseline`` frozen
    into the model at build time, so the row values are a pure function
    of (model, delta): byte-identical under replay, and gradual corpus
    drift can't normalize itself away. One row (ratio, rebuild, counts)
    lands as one batch of a log store
    (:func:`~node_mongo2influx_spark.sinks.parquet.write_batch_log`), so
    a replayed batch rewrites its own row and the log stays
    replay-idempotent like the index itself. Read
    it back with :func:`read_drift_log`; a ``rebuild=true`` row is the
    operator's signal to schedule :func:`build_ivfpq_index` — appends
    keep applying either way (availability over recall, the caller
    decides when to pay the retrain).
    """
    from node_mongo2influx_spark.operators.similarity import (
        append_to_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_drift_probe,
    )

    spark = source.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        live, dels = _reduce_last_write(
            batch_df, (id_col,), op_col, delete_op
        )
        # ONE delete over the union of retracted and live keys: both
        # sets must leave the index before the live append (a retracted
        # key for good, a live key because its update may move cells and
        # its old vectors row would collide with the re-encoded one in
        # the rerank join) — one (vid, cell) location scan and at most
        # one rewrite per touched partition per batch, instead of two.
        # vacuum="located" skips the bucket rewrite entirely on
        # pure-insert batches (this stream keeps codes and vectors in
        # lockstep, so no located codes ⇒ no stale vectors either).
        # Delete-then-append is also what makes batch replay converge.
        clear = live.select(id_col)
        if dels is not None:
            clear = clear.unionByName(dels.select(id_col))
        if clear.limit(1).count() > 0:
            delete_from_ivfpq_index(
                spark, index_path, clear, vacuum_vectors="located"
            )
        rep = None
        if live.limit(1).count() > 0:
            if drift_log_dir is not None:
                rep = ivfpq_drift_probe(
                    spark, index_path, live, id_col=id_col, vec_col=vec_col,
                    sample_rows=drift_sample_rows,
                    rebuild_factor=drift_rebuild_factor,
                )
            append_to_ivfpq_index(
                live, index_path, id_col=id_col, vec_col=vec_col
            )
        if rep is not None:
            # logged AFTER the append: a crash in between replays the
            # whole batch (delete-then-append converges), and the row is
            # idempotent under its batch partition
            row = spark.createDataFrame(
                [(
                    rep["base_rel_err"], rep["delta_rel_err"], rep["ratio"],
                    rep["rebuild"], rep["n_base"], rep["n_delta"],
                )],
                _DRIFT_LOG_SCHEMA,
            )
            write_batch_log(row, drift_log_dir, batch_id)

    return _start(source, write_batch, checkpoint_dir)


def read_drift_log(spark, log_dir: str) -> DataFrame:
    """The drift log written by :func:`ann_index_maintenance_stream`
    (``drift_log_dir``): one row per live-key batch, read through
    :func:`~node_mongo2influx_spark.sinks.parquet.read_store` (a
    data-file-less log reads as EMPTY)."""
    return read_store(spark, log_dir, _DRIFT_LOG_SCHEMA + ", ingest_batch int")


def drift_forecast(
    log: DataFrame,
    window: int = 7,
    threshold_ratio: float = 2.0,
    batch_col: str = "ingest_batch",
    ratio_col: str = "ratio",
) -> DataFrame:
    """Turn the per-batch drift series (:func:`read_drift_log`) into a
    FORECAST (round 8, VERDICT r7 #6): per batch, the trailing-window
    least-squares slope of the drift ratio and the extrapolated
    batches-to-threshold at the current slope — so index maintenance can
    schedule :func:`rebuild_ivfpq_index` BEFORE the 2x flag fires
    instead of reacting to it.

    Exact-integer discipline (the cusum_drift_chunked rule): the ratio
    quantizes to basis points (BIGINT), the regression reduces to exact
    integer sums (slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)), and the ETA
    is an exact ceil-division of integers — every number is engine- and
    partition-order-proof; the two doubles in the output are each a
    single IEEE division of identical integers. Columns:

    * ``slope_bp_per_batch`` — trailing-window drift slope (basis
      points/batch; NULL until 2 points exist),
    * ``eta_batches`` — ceil((threshold - current) / slope) when the
      slope is positive and the threshold not yet crossed; NULL when
      drift is flat/improving or already crossed,
    * ``alarm`` — the threshold crossing itself (the probe's 2x flag).

    The window orders the WHOLE log in one partition — the log is
    model-sized by construction (ONE row per ingest batch, written by
    :func:`ann_index_maintenance_stream`), never corpus-sized.
    """
    from pyspark.sql import Window

    thr_bp = int(round(threshold_ratio * 10_000))
    w = Window.orderBy("batch").rowsBetween(-(window - 1), 0)
    y = F.round(F.col(ratio_col) * 10_000).cast("long")
    base = log.select(
        F.col(batch_col).cast("long").alias("batch"),
        F.col(ratio_col).alias("ratio"),
        y.alias("__y"),
    )
    x = F.col("batch")
    stats = base.select(
        "batch",
        "ratio",
        "__y",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.sum(x).over(w).alias("__sx"),
        F.sum("__y").over(w).alias("__sy"),
        F.sum(x * F.col("__y")).over(w).alias("__sxy"),
        F.sum(x * x).over(w).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.nullif(
        F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
        F.lit(0),
    )
    slope = (num.cast("double") / den.cast("double")).alias(
        "slope_bp_per_batch"
    )
    gap = F.lit(thr_bp) - F.col("__y")
    eta = (
        F.when(
            (num > 0) & den.isNotNull() & (gap > 0),
            F.expr(
                f"(({thr_bp}L - __y) * (__n * __sxx - __sx * __sx) "
                "+ (__n * __sxy - __sx * __sy) - 1L) "
                "DIV (__n * __sxy - __sx * __sy)"
            ),
        )
        .cast("long")
        .alias("eta_batches")
    )
    return stats.select(
        "batch",
        "ratio",
        slope,
        eta,
        (F.col("__y") >= thr_bp).alias("alarm"),
    )


def read_rollup_store(
    spark, store_dir: str, key_col: str = "event_type",
    key_type: str = "string",
) -> DataFrame:
    """Merge-on-read over the partial log written by
    :func:`rollup_maintenance_stream`: one groupBy collapses all
    per-batch partials into the current rollup. Exact-integer partials
    make the merge bit-identical to a single-pass aggregate over the raw
    events, however the batches sliced them. The log is read through
    :func:`~node_mongo2influx_spark.sinks.parquet.read_store`, so a
    data-file-less store reads as EMPTY (``key_type`` pins the key
    column's type on that path — parquet footers can't supply it when
    there are none)."""
    log = read_store(
        spark,
        store_dir,
        f"{key_col} {key_type}, bucket timestamp, n long, "
        "c_sum long, c_min long, c_max long",
    )
    return log.groupBy(key_col, "bucket").agg(
        F.sum("n").alias("n"),
        F.sum("c_sum").alias("c_sum"),
        F.min("c_min").alias("c_min"),
        F.max("c_max").alias("c_max"),
    )


def distinct_maintenance_stream(
    source: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    value_col: str = "user_id",
) -> StreamingQuery:
    """Continuously maintain per-key DISTINCT counts as an append-only log
    of portable-HLL register partials — the sketch sibling of
    :func:`rollup_maintenance_stream` (its integer partials SUM; HLL
    registers MAX-merge, functions/hll.py).

    A streaming ``count_distinct`` needs per-key per-VALUE state (it can
    never forget a user it has seen); the register log needs O(m=256)
    ints per key per batch, merge-on-read is one groupBy-max, and the
    merged estimate is BIT-IDENTICAL to running the batch sketch over
    all data at once (max is associative/commutative/idempotent — the
    same property that makes the replayed-batch dynamic overwrite a
    no-op). Periodic compaction collapses the log exactly like the
    rollup store's.
    """
    from node_mongo2influx_spark.functions.hll import hll_registers

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = (
            hll_registers(batch_df, [key_col], value_col)
            .withColumnRenamed("__bucket", "bucket")
            .withColumnRenamed("__m", "register")
        )
        write_batch_log(regs, store_dir, batch_id)

    return _start(source, write_batch, checkpoint_dir)


def read_distinct_store(
    spark, store_dir: str, key_col: str = "event_type",
    key_type: str = "string",
) -> DataFrame:
    """Merge-on-read over :func:`distinct_maintenance_stream`'s register
    log: max-merge the per-batch registers, then estimate — identical
    output contract to ``hll_count_distinct`` over the full raw data.

    The log is read through
    :func:`~node_mongo2influx_spark.sinks.parquet.read_store`: a
    register-less store (first batch carried only NULL values, or a
    compaction left no data files) reads as EMPTY. On that path
    ``key_type`` pins the key column's type (no footers to infer from)
    so the empty frame's schema matches a populated store's."""
    from node_mongo2influx_spark.functions.hll import hll_estimate

    regs = (
        read_store(
            spark, store_dir, f"{key_col} {key_type}, bucket long, register int"
        )
        .groupBy(key_col, "bucket")
        .agg(F.max("register").alias("__m"))
    )
    return hll_estimate(regs, [key_col])


def integrity_maintenance_stream(
    source: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "event_id",
) -> StreamingQuery:
    """Continuously maintain the primary-id integrity census
    (``operators/integrity.py``; batch face ``id_integrity_qa``) as an
    append-only log of per-id COUNT partials — the data-quality monitor
    for a live migration.

    The point of maintaining this incrementally: a duplicate id that
    arrives in batch 1 and again in batch 40 is invisible to any
    per-batch check — only the merged per-id counts can see it, and a
    migration wants to know about key collisions BEFORE cutover, not
    from a full post-hoc rescan. Same IVM design as
    :func:`rollup_maintenance_stream`: integer partials sum
    associatively, each micro-batch writes O(its own distinct ids) rows
    as one batch of a log store
    (:func:`~node_mongo2influx_spark.sinks.parquet.write_batch_log` —
    replay-idempotent, no read-modify-write), merge-on-read is one
    groupBy-sum, and the
    merged census is bit-identical to the batch query over all data.
    """
    from node_mongo2influx_spark.operators import integrity

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_log(
            integrity.per_id_counts(batch_df, id_col), store_dir, batch_id
        )

    return _start(source, write_batch, checkpoint_dir)


def read_integrity_store(spark, store_dir: str) -> DataFrame:
    """Merge-on-read over :func:`integrity_maintenance_stream`'s partial
    log: sum the per-batch per-id counts, then the SAME census aggregate
    as the batch query — one row (``table_name``-free), or EMPTY for a
    store with no data files
    (:func:`~node_mongo2influx_spark.sinks.parquet.read_store`)."""
    from node_mongo2influx_spark.operators import integrity

    per_id = (
        read_store(spark, store_dir, "id long, c long")
        .groupBy("id")
        .agg(F.sum("c").alias("c"))
        .withColumn("__store", F.lit(0))
    )
    # grouped by one constant, an empty log has no group and so no
    # census row (a global aggregate would mint an all-NULL one)
    return integrity.id_census(per_id, ["__store"]).drop("__store")


def ohlc_stream(
    source: DataFrame,
    time_col: str = "time",
    key_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming OHLC bars: the batch `ohlc_vwap_hourly` aggregate under a
    watermarked tumbling window. Open/close use the same lexicographic
    (time, id, value) struct min/max as the batch query — min/max are
    watermark-compatible streaming aggregates (unlike first()/last(),
    which are order-dependent and nondeterministic under micro-batch
    arrival order), so the streamed bars are BYTE-IDENTICAL to the batch
    ones once their windows close. State per open window is O(1).
    """
    key = F.struct(
        F.col(time_col),
        F.col(id_col).alias("eid"),
        F.col(value_col).alias("v"),
    )
    return (
        source.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window_duration).alias("win"),
            F.col(key_col),
        )
        .agg(
            F.min(key).getField("v").alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max(key).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("hour"),
            key_col,
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def transform_with_state_supported() -> bool:
    """Spark 4's transformWithStateInPandas drives its state protocol over
    protobuf; without the ``google.protobuf`` package the driver worker
    crashes AT STREAM START (ImportError inside StateMessage_pb2), not at
    plan time. Probe before starting a query; the container this repo is
    developed in ships pyspark without protobuf, so the operator below is
    exercised only where the dependency exists (tests skip cleanly)."""
    import importlib.util

    try:
        # find_spec imports the PARENT package of a dotted name, so a
        # missing `google` namespace raises instead of returning None.
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def stateful_type_profile(
    source: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-key event-type profile via Spark 4's ``transformWithStateInPandas``
    — the successor API to ``applyInPandasWithState`` with COMPOSABLE typed
    state. Here a MapState (event_type → running count) maintains each
    user's type histogram across micro-batches; a flat GroupState tuple
    can't express a growing keyed collection without serializing the whole
    map through one value.

    Emits (key, n_types, n_events) per updated key per batch; the final
    row per key equals the batch groupBy(countDistinct, count) — asserted
    in tests. State is keyed per (user, type) in RocksDB/HDFSBackedStore:
    bounded by live cardinality, not stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState("type_counts", "t string", "c long")

        def handleInputRows(self, key, rows, timerValues):
            fresh: dict[str, int] = {}
            for pdf in rows:
                for t, c in pdf[type_col].value_counts().items():
                    fresh[str(t)] = fresh.get(str(t), 0) + int(c)
            for t, c in fresh.items():
                prev = (
                    self._counts.getValue((t,))[0]
                    if self._counts.containsKey((t,))
                    else 0
                )
                self._counts.updateValue((t,), (prev + c,))
            n_types, n_events = 0, 0
            for _, (cnt,) in self._counts.iterator():
                n_types += 1
                n_events += cnt
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "n_types": [n_types],
                    "n_events": [n_events],
                }
            )

        def close(self) -> None:
            pass

    return source.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=TypeProfile(),
        outputStructType="key long, n_types long, n_events long",
        outputMode="Update",
        timeMode="None",
    )


def quality_filter_stream(
    source: DataFrame,
    min_tokens: int = 10,
    max_non_alpha: float = 0.3,
    min_stopword: float = 0.01,
) -> DataFrame:
    """Streaming corpus curation: the SAME quality gate as the batch
    `text.quality_filter` applied at ingest. The filter is stateless
    (pure per-row Column exprs), so the streaming face is the batch
    operator applied to a streaming frame — no watermark, no state
    store, exactly-once under any replay, and asserted row-identical to
    the batch result in tests."""
    from node_mongo2influx_spark.operators import text

    return text.quality_filter(
        source,
        min_tokens=min_tokens,
        max_non_alpha=max_non_alpha,
        min_stopword=min_stopword,
    )
