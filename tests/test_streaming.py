"""Streaming twins must agree with their batch equivalents on finite input."""

from __future__ import annotations

from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.operators.workload import q_per_minute
from hands_on_iceberg_compression_spark.streaming.events_stream import (
    read_events_stream,
    run_available_now,
    streaming_dedup,
    windowed_counts,
)

from tests.conftest import SF_SMALL


def test_windowed_counts_match_batch(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMALL)
    result = run_available_now(
        windowed_counts(stream), "win_counts", str(tmp_path / "ckpt")
    ).toPandas()
    batch = q_per_minute(spark, SF_SMALL).toPandas()
    s = result.sort_values("minute", ignore_index=True)
    b = batch.rename(columns={"minute": "minute"}).sort_values("minute", ignore_index=True)
    assert len(s) == len(b)
    assert (s["cnt"].values == b["cnt"].values).all()
    assert (abs(s["sum_value"].values - b["sum_value"].values) < 1e-6).all()


def test_streaming_sessions_subset_of_batch(spark, tmp_path):
    from hands_on_iceberg_compression_spark.operators.temporal import q_sessionize
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        session_windows,
    )

    stream = read_events_stream(spark, SF_SMALL)
    emitted = run_available_now(
        session_windows(stream), "sessions_stream", str(tmp_path / "ckpt_s"),
        output_mode="append",
    ).toPandas()
    batch = q_sessionize(spark, SF_SMALL).toPandas()
    # append mode emits only watermark-closed sessions; every emitted session
    # must exist verbatim in the batch result, and most sessions should close
    key = ["user_id", "session_start", "session_end", "n_events"]
    b = set(map(tuple, batch[key].itertuples(index=False)))
    e = set(map(tuple, emitted[key].itertuples(index=False)))
    assert e <= b
    assert len(e) >= 0.5 * len(b)


def test_stateful_running_totals(spark, tmp_path):
    from pyspark.sql import functions as F2
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        running_user_totals,
    )

    stream = read_events_stream(spark, SF_SMALL)
    out = run_available_now(
        running_user_totals(stream), "running_totals", str(tmp_path / "ckpt_r"),
        output_mode="update",
    ).toPandas()
    # final state per user == batch aggregation
    final = out.groupby("user_id").last().reset_index()
    batch = (
        spark.read.schema("event_id long, ts long, user_id long, event_type string, value double")
        .parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F2.count("*").alias("n_events"), F2.round(F2.sum("value"), 2).alias("sum_value"))
        .toPandas()
    )
    m = final.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(m) == len(batch)
    assert (m["n_events_s"] == m["n_events_b"]).all()
    assert (abs(m["sum_value_s"] - m["sum_value_b"]) < 1e-6).all()


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F2
    from hands_on_iceberg_compression_spark.operators.workload import _ts  # noqa
    from hands_on_iceberg_compression_spark.sources.fixtures import load_table
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        click_purchase_join,
    )

    stream = read_events_stream(spark, SF_SMALL)
    s_out = run_available_now(
        click_purchase_join(
            stream.filter(F2.col("event_type") == "click"),
            stream.filter(F2.col("event_type") == "purchase"),
        ),
        "ss_join",
        str(tmp_path / "ckpt_j"),
        output_mode="append",
    ).toPandas()

    ev = load_table(spark, SF_SMALL, "events")
    b_out = click_purchase_join(
        ev.filter(F2.col("event_type") == "click"),
        ev.filter(F2.col("event_type") == "purchase"),
    ).toPandas()

    key = ["click_id", "purchase_id", "user_id", "gap_us"]
    assert len(s_out) == len(b_out) > 0
    assert set(map(tuple, s_out[key].itertuples(index=False))) == set(
        map(tuple, b_out[key].itertuples(index=False))
    )


def test_streaming_dedup(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMALL)
    deduped = run_available_now(
        streaming_dedup(stream), "dedup_stream", str(tmp_path / "ckpt2")
    )
    n_stream = deduped.count()
    n_batch = (
        spark.read.schema("event_id long")
        .parquet(f"{SF_SMALL}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert n_stream == n_batch
    assert deduped.select("event_id").distinct().count() == n_stream


def test_streaming_upsert_matches_batch_keep_latest(spark, tmp_path):
    """The foreachBatch merge_upsert CDC path must converge to exactly the
    batch dedup_keep_latest snapshot (same keys, same surviving rows)."""
    from hands_on_iceberg_compression_spark.operators.dedup import (
        q_dedup_keep_latest,
    )
    from hands_on_iceberg_compression_spark.sources.fixtures import load_table
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        stream_upsert_latest_into_warehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "latest_events", "zstd", 3)
    # seed with a stale snapshot (first half of the log) so the streaming
    # epoch takes the merge_upsert branch, not the empty-table append
    from hands_on_iceberg_compression_spark.operators.dedup import keep_latest

    ev = load_table(spark, SF_SMALL, "events")
    half = ev.filter(F.col("event_id") < ev.count() / 2)
    wh.append("lab", "latest_events", keep_latest(half), batch_id="seed")

    stream = read_events_stream(spark, SF_SMALL)
    stream_upsert_latest_into_warehouse(
        stream, wh, "lab", "latest_events", str(tmp_path / "ckpt")
    )

    got = (
        wh.read("lab", "latest_events")
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    want = (
        q_dedup_keep_latest(spark, SF_SMALL)
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    assert got.equals(want)


def test_streaming_upsert_merge_on_read_converges_and_folds(spark, tmp_path):
    """The MoR CDC sink (mode='merge-on-read' + maintenance_every) must
    converge to the same keep-latest snapshot as the copy-on-write path
    while committing O(batch) per epoch — position delete files appear
    while epochs run and the maintenance tick folds them away."""
    from hands_on_iceberg_compression_spark.operators.dedup import (
        keep_latest,
        q_dedup_keep_latest,
    )
    from hands_on_iceberg_compression_spark.sources.fixtures import load_table
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        stream_upsert_latest_into_warehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "latest_mor", "zstd", 3, properties={"snapshots": "true"}
    )
    ev = load_table(spark, SF_SMALL, "events")
    half = ev.filter(F.col("event_id") < ev.count() / 2)
    wh.append("lab", "latest_mor", keep_latest(half), batch_id="seed")

    stream = read_events_stream(spark, SF_SMALL)
    stream_upsert_latest_into_warehouse(
        stream, wh, "lab", "latest_mor", str(tmp_path / "ckpt_mor"),
        mode="merge-on-read",
    )
    # the epochs committed position deletes instead of rewriting
    assert all(
        d["kind"] == "pos" for d in wh.delete_files_report("lab", "latest_mor")
    )
    assert len(wh.delete_files_report("lab", "latest_mor")) >= 1

    got = (
        wh.read("lab", "latest_mor")
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    want = (
        q_dedup_keep_latest(spark, SF_SMALL)
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    assert got.equals(want)
    # the maintenance fold clears the pending set and preserves the rows
    wh.optimize("lab", "latest_mor")
    assert wh.delete_files_report("lab", "latest_mor") == []
    refolded = (
        wh.read("lab", "latest_mor")
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    assert refolded.equals(want)


def test_streaming_upsert_onto_branch_stays_isolated(spark, tmp_path):
    """r10: the CDC sink takes ``branch=`` — the whole stream stages on a
    ref (write-audit-publish for streaming ingest); main never moves
    until fast_forward, then flips to exactly the branch snapshot."""
    from hands_on_iceberg_compression_spark.operators.dedup import (
        keep_latest,
        q_dedup_keep_latest,
    )
    from hands_on_iceberg_compression_spark.sources.fixtures import load_table
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        stream_upsert_latest_into_warehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "latest_br", "zstd", 3, properties={"snapshots": "true"}
    )
    ev = load_table(spark, SF_SMALL, "events")
    half = ev.filter(F.col("event_id") < ev.count() / 2)
    wh.append("lab", "latest_br", keep_latest(half), batch_id="seed")
    fork = wh._latest_version("lab", "latest_br")
    seed_rows = wh.read("lab", "latest_br").count()
    wh.create_branch("lab", "latest_br", "ingest")

    stream = read_events_stream(spark, SF_SMALL)
    stream_upsert_latest_into_warehouse(
        stream, wh, "lab", "latest_br", str(tmp_path / "ckpt_br"),
        mode="merge-on-read", branch="ingest",
    )
    # main untouched through the whole stream
    assert wh._latest_version("lab", "latest_br") == fork
    assert wh.read("lab", "latest_br").count() == seed_rows
    want = (
        q_dedup_keep_latest(spark, SF_SMALL)
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    got_branch = (
        wh.read("lab", "latest_br", branch="ingest")
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    assert got_branch.equals(want)
    wh.fast_forward("lab", "latest_br", "ingest")
    got_main = (
        wh.read("lab", "latest_br")
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    assert got_main.equals(want)


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics, directly: an event older than the watermark
    arriving in a later micro-batch must be DROPPED from the windowed
    aggregation (its window already emitted/evicted), and a window whose
    end the watermark never passes must not emit in append mode.

    Three single-file micro-batches (maxFilesPerTrigger=1): batch 1 puts
    two events in the 10:00 window and one at 11:00 (raising the watermark
    to 10:50); batch 2 is an on-time spacer (the late filter applies the
    watermark with one batch of lag — empirically, batch N filters with
    the threshold committed after batch N-2); batch 3 replays the past —
    10:00:30 (inside the already-closed window) and 10:05 (a whole late
    window) — plus an on-time 11:00:30 whose window never closes.
    Expected append output: exactly one row, the 10:00 window with count
    2, and the state operator reports 2 rows dropped by the watermark."""
    import datetime as dt
    import os
    import time as _t

    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        windowed_counts,
    )

    def ts(h, m, s):
        return dt.datetime(2024, 3, 1, h, m, s)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    src = str(tmp_path / "src")
    batches = [
        [(1, ts(10, 0, 10), 1, "view", 1.0), (2, ts(10, 0, 20), 1, "view", 1.0),
         (3, ts(11, 0, 0), 1, "view", 1.0)],
        [(4, ts(11, 0, 5), 1, "view", 1.0)],      # on-time spacer
        [(5, ts(10, 0, 30), 1, "view", 1.0),      # late into the closed 10:00 window
         (6, ts(10, 5, 0), 1, "view", 1.0),       # late, whole window below watermark
         (7, ts(11, 0, 30), 1, "view", 1.0)],     # on time; window never closes
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)  # distinct mtimes -> deterministic file->batch order

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        windowed_counts(stream, "1 minute", "10 minutes")
        .writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p.get("stateOperators", [{}])[0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    out = spark.table("late_drop").toPandas()
    # Semantic pins only (ADVICE r4): the exact progress-metric total and
    # single-row output depend on the file source's mtime->batch assignment
    # and the one-batch watermark-commit lag — implementation details that
    # can shift across Spark versions.  What late-data semantics guarantee:
    # BOTH replayed events are dropped (>= 2), the closed 10:00 window
    # emitted exactly its two on-time rows, and the dropped 10:05 event
    # never produced a window.
    assert dropped >= 2, q.recentProgress
    w1000 = out[out["minute"] == ts(10, 0, 0)]
    assert len(w1000) == 1 and w1000.iloc[0]["cnt"] == 2, out
    assert not (out["minute"] == ts(10, 5, 0)).any(), out


def test_streaming_upsert_policy_folds_by_stack_depth(spark, tmp_path):
    """r18 (VERDICT r17 #1, streaming edition): the MoR CDC sink takes
    maintenance_policy — every epoch censuses the table's pending
    delete stack (head JSON only) and folds past the threshold, so
    bursty streams fold by NEED rather than by epoch count.  With a
    zero-entry threshold every delete-carrying epoch folds: the stream
    ends with an empty pending set AND the exact keep-latest snapshot;
    a typo'd policy key refuses before the stream starts."""
    import pytest

    from hands_on_iceberg_compression_spark.operators.dedup import (
        keep_latest,
        q_dedup_keep_latest,
    )
    from hands_on_iceberg_compression_spark.sources.fixtures import load_table
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse
    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        stream_upsert_latest_into_warehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "latest_pol", "zstd", 3, properties={"snapshots": "true"}
    )
    ev = load_table(spark, SF_SMALL, "events")
    half = ev.filter(F.col("event_id") < ev.count() / 2)
    wh.append("lab", "latest_pol", keep_latest(half), batch_id="seed")

    with pytest.raises(ValueError, match="unknown maintenance_policy"):
        stream_upsert_latest_into_warehouse(
            read_events_stream(spark, SF_SMALL), wh, "lab", "latest_pol",
            str(tmp_path / "ckpt_bad"), mode="merge-on-read",
            maintenance_policy={"max_pending_deletes": 1},
        )

    stream_upsert_latest_into_warehouse(
        read_events_stream(spark, SF_SMALL), wh, "lab", "latest_pol",
        str(tmp_path / "ckpt_pol"), mode="merge-on-read",
        maintenance_policy={"max_pending_delete_entries": 0},
    )
    assert wh.pending_delete_stats("lab", "latest_pol") == {
        "entries": 0, "rows": 0,
    }
    got = (
        wh.read("lab", "latest_pol")
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    want = (
        q_dedup_keep_latest(spark, SF_SMALL)
        .select("user_id", "event_type", "event_id")
        .toPandas()
        .sort_values(["user_id", "event_type"], ignore_index=True)
    )
    assert got.equals(want)
