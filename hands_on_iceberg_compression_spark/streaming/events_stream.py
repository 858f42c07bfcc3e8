"""Structured Streaming analogues of the event pipeline.

The reference is batch-only (SURVEY.md §2 closing note: no streams); these
are the streaming twins its ``events`` table invites, built on the standard
Spark patterns: file source -> watermark -> windowed aggregation -> sink, and
watermarked streaming dedup.

Scale posture: the file source is swapped for Kafka by changing ``format``;
watermark bounds state so a 1000-executor streaming job does not grow
unboundedly; ``availableNow`` triggers make the same code testable as a
finite batch-backfill, which is also the production backfill story.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),  # TIMESTAMP(NANOS) in the fixture
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events fixture (file source; Kafka-swappable).

    The fixture's ts is parquet TIMESTAMP(NANOS); the runtime-version
    dual path (Spark <=4.0 raw-ns-BIGINT vs 4.1+ native TIMESTAMP_NTZ)
    lives in ONE place — ``sources/fixtures.py:prepare_events_session`` /
    ``normalize_events_ts`` — shared with the batch loader, so batch and
    streaming cannot drift on ts normalization.  Only the user schema for
    the stream reader is chosen here (streaming sources cannot infer)."""
    from hands_on_iceberg_compression_spark.sources.fixtures import (
        normalize_events_ts,
        prepare_events_session,
    )

    ns_as_long = prepare_events_session(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    schema = _events_schema(T.LongType() if ns_as_long else T.TimestampNTZType())
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw, ns_as_long)


def windowed_counts(events: DataFrame, window: str = "1 minute", watermark: str = "10 minutes") -> DataFrame:
    """Per-window event counts + value sums with late-data watermarking."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("minute"), "cnt", "sum_value")
    )


def streaming_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    state is bounded by the watermark, so memory is O(events per horizon)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def session_windows(events: DataFrame, gap: str = "4 hours", watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of operators/temporal.py q_sessionize: native
    session_window aggregation.  Sessions emit once the watermark passes
    their close; state is bounded by (watermark + gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window(F.col("ts"), gap))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value sum, emitted on every update.

    The canonical template for operators Structured Streaming lacks: state is
    one tiny row per key, partitioned by user across executors; Arrow batches
    carry the data (no per-row Python)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def click_purchase_join(clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: purchases within `horizon` after a click by
    the same user.  Watermarks on both sides bound the join state (clicks
    older than horizon+watermark are evicted); works identically on batch
    DataFrames, which is how the test oracles it."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", "10 minutes")
        p = p.withWatermark("purchase_ts", "10 minutes")
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))).alias("gap_us"),
    )


def stream_into_warehouse(
    events: DataFrame,
    warehouse,
    schema: str,
    table: str,
    checkpoint_dir: str,
    maintenance_every: int | None = None,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    expire_keep_last: int | None = None,
    retain_checkpoints: list[str] | None = None,
) -> None:
    """Streaming sink into a warehouse table via foreachBatch: each
    micro-batch appends as its own batch generation (committer-isolated,
    exactly-once per epoch via the streaming checkpoint + idempotent batch
    ids — a replayed epoch id supersedes its prior generation in the
    manifest, partitioned or not).  This is the ingest path: stream ->
    table, then every batch operator in operators/ runs over the table.

    ``maintenance_every=N`` co-locates Iceberg's table maintenance with
    the ingest: every N epochs, compact the PARTITIONS
    TOUCHED since the last tick (``optimize(partition_filter=...)`` — the
    scoped rewrite, so cold partitions are never rewritten) and, when
    ``expire_keep_last`` is set, expire old snapshots.  At 100 TB a
    streaming table fragments exactly as fast as it ingests; running the
    compactor on the ingest cadence keeps file counts bounded without a
    separate scheduler.  ``retain_checkpoints`` passes through to the
    expiry so downstream consumer/MV checkpoints register a retention
    floor (expire_snapshots r17).  Touched-partition tracking costs one
    tiny distinct-collect per micro-batch (bounded by partitions/batch).
    Crash-safety: maintenance runs after the epoch's append commit; a
    crash mid-maintenance replays the epoch (idempotent) and simply
    re-compacts."""
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        apply_partition_transforms,
        partition_transform_exprs,
    )

    meta = warehouse.table_meta(schema, table)
    part_names = [
        n for n, _ in partition_transform_exprs(meta.partitioning or [])
    ]
    state: dict = {"since_tick": 0, "touched": {n: set() for n in part_names}}

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        warehouse.append(schema, table, batch_df, batch_id=f"epoch_{epoch_id:08d}")
        if not maintenance_every:
            return
        if part_names:
            pb, _ = apply_partition_transforms(batch_df, meta.partitioning)
            for r in pb.select(*part_names).distinct().collect():
                for n in part_names:
                    if r[n] is not None:
                        state["touched"][n].add(r[n])
        state["since_tick"] += 1
        if state["since_tick"] < maintenance_every:
            return
        # discrete value sets, not a (min, max) envelope (ADVICE r6: the
        # envelope swept every untouched partition between the extremes
        # into the rewrite — one batch touching day 1 and day 30 would
        # compact all 30 days; cold partitions must never be rewritten)
        scope = {
            n: sorted(vs) for n, vs in state["touched"].items() if vs
        }
        if part_names and scope:
            warehouse.optimize(
                schema, table, target_file_size_bytes, partition_filter=scope
            )
        elif not part_names:
            warehouse.optimize(schema, table, target_file_size_bytes)
        if expire_keep_last is not None:
            # retain_checkpoints guards downstream CDC consumers/MV
            # maintainers reading this table: ingest-cadence expiry must
            # never strand a lagging checkpoint (r17)
            warehouse.expire_snapshots(
                schema, table, keep_last=expire_keep_last,
                retain_checkpoints=retain_checkpoints,
            )
        state["since_tick"] = 0
        for vs in state["touched"].values():
            vs.clear()

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str | None = None
) -> DataFrame:
    """Run a streaming DataFrame to completion on the available data
    (availableNow trigger -> memory sink) and return the final result as a
    batch DataFrame.  This is both the test harness and the backfill mode."""
    if output_mode is None:
        output_mode = "complete" if _has_aggregation(df) else "append"
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(query_name)


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def stream_upsert_latest_into_warehouse(
    events: DataFrame,
    warehouse,
    schema: str,
    table: str,
    checkpoint_dir: str,
    mode: str | None = None,
    maintenance_every: int | None = None,
    branch: str = "main",
    maintenance_policy: dict | None = None,
) -> None:
    """Streaming CDC: maintain a keep-latest-per-(user_id, event_type)
    snapshot table via ``merge_upsert`` from ``foreachBatch`` — the
    streaming twin of the batch ``dedup_keep_latest`` query.

    Each micro-batch reduces to one row per key (max ts wins, event_id
    breaks ties — operators/dedup.py:keep_latest, the SAME ordering as the
    batch twin) BEFORE merging, so the upsert's key set — and therefore
    the copy-on-write rewrite — is bounded by the batch's distinct keys,
    not its row count.  An update older than the STORED row for its key is
    dropped before the merge (out-of-order micro-batches — a multi-file
    source lists by name, not event time — must never regress the
    snapshot).  Exactly-once: the checkpoint replays a failed epoch, and
    merge_upsert is idempotent for identical updates.

    ``mode="merge-on-read"`` is the scale path (the Flink->Iceberg upsert
    sink shape): each epoch commits new images + one position delete of
    the rows the batch's keys replace — instead of rewriting the snapshot
    table.  Replay stays idempotent two ways: the ``fresh`` filter drops
    rows the stored table already reflects, and even a raw re-commit
    linearizes (the replay's position delete names the first attempt's
    image rows).  ``maintenance_every`` folds the accumulated delete files
    with a full ``optimize()`` every N epochs — the ingest-cadence
    maintenance loop that keeps the read-side anti-join tax bounded.
    ``maintenance_policy`` (r18) is the STACK-DEPTH-triggered variant of
    the same fold ({"max_pending_delete_entries"/"max_pending_delete_rows"}
    — the shared ``_maybe_auto_fold``): every epoch censuses the table's
    pending delete stack from head JSON alone and folds only past the
    threshold, so bursty streams fold by NEED rather than by count (an
    epoch-count cadence over-folds quiet streams and under-folds bursts);
    when both knobs are set, the count cadence runs first and the policy
    covers whatever it misses.  ``branch`` stages the whole CDC stream on
    a named ref (write-audit-publish for streaming ingest): every epoch
    commits to the branch and main stays untouched until
    ``fast_forward``/``merge_branch``."""
    import os

    from hands_on_iceberg_compression_spark.operators.dedup import keep_latest
    from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
        _maybe_auto_fold,
        _validate_policy,
    )

    _validate_policy(maintenance_policy)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        latest = keep_latest(batch_df)
        if warehouse.is_empty(schema, table, branch=branch):
            warehouse.append(
                schema, table, latest,
                batch_id=f"epoch_{epoch_id:08d}", branch=branch,
            )
            return
        stored = warehouse.read(schema, table, branch=branch).select(
            "user_id",
            "event_type",
            F.col("ts").alias("_cur_ts"),
            F.col("event_id").alias("_cur_id"),
        )
        # note on the join order: Spark 4 builds the LEFT (batch) side of
        # this left-outer join as a broadcast (BuildLeft) and STREAMS the
        # stored table — one scan, zero stored-side exchange (verified on
        # the executed plan; a semi-join pre-reduction measured SLOWER
        # because it adds a pass for nothing).  The freshness check is
        # inherently one stored-table scan per epoch.
        fresh = (
            latest.join(stored, ["user_id", "event_type"], "left")
            .filter(
                F.col("_cur_ts").isNull()
                | (F.col("ts") > F.col("_cur_ts"))
                | ((F.col("ts") == F.col("_cur_ts")) & (F.col("event_id") > F.col("_cur_id")))
            )
            .drop("_cur_ts", "_cur_id")
        )
        warehouse.merge_upsert(
            schema, table, fresh, ["user_id", "event_type"],
            mode=mode, branch=branch,
        )
        if maintenance_every and (epoch_id + 1) % maintenance_every == 0:
            warehouse.optimize(schema, table, branch=branch)
        else:
            # stack-depth-triggered fold (no-op without a policy; the
            # census is one head-JSON read, so quiet epochs stay cheap).
            # The sink's target is an UNBOUNDED mirror, so the default
            # fold is delete-scoped (r19 — fold_pending_deletes)
            _maybe_auto_fold(
                warehouse, schema, table, maintenance_policy,
                branch=branch, default_scope="pending",
            )

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, table))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
