"""End-to-end bench pipeline tests (SURVEY.md §5): DDL -> checkpointed load ->
compaction -> metrology -> CSV -> SVG, asserting the $files-derived row count
matches inserted rows (mirror of bench.ts:132-140)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.pipeline.codec_bench import run_codec_bench
from hands_on_iceberg_compression_spark.pipeline.load import (
    Checkpoint,
    LoadPlan,
    load_table,
    make_batches,
)
from hands_on_iceberg_compression_spark.pipeline.metrology import (
    console_table,
    human_number,
    human_size,
    measure_sizes,
)
from hands_on_iceberg_compression_spark.pipeline.plot_svg import plot_results
from hands_on_iceberg_compression_spark.schema.reference_schemas import (
    narrow_example_config,
)
from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
    variant_table_name,
)


def test_make_batches():
    bs = make_batches(1, 250, 100)
    assert [(b.index, b.start_id, b.rows) for b in bs] == [
        (0, 1, 100), (1, 101, 100), (2, 201, 50),
    ]


def test_humanize():
    assert human_size(1536) == "1.50 KB"
    assert human_size(3 * 1024**3) == "3.00 GB"
    assert human_number(1_234_567) == "1.23M"


def test_load_checkpoint_and_metrology(spark, tmp_path):
    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    plan = LoadPlan(
        total_rows=3000,
        batch_rows=1000,
        concurrency=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_after_load=False,
        partitions_per_batch=4,
        progress=False,
    )
    table = variant_table_name(cfg.table_base, "zstd", 6)
    wh.create_table(cfg.schema, table, "zstd", 6)
    stats = load_table(spark, wh, cfg, table, plan)
    assert stats["rows"] == 3000 and stats["loaded_batches"] == 3

    # metrology row count == inserted rows (the bench.ts:132-140 invariant)
    size = measure_sizes(wh, cfg.schema, table, "zstd", 6)
    assert size.row_count == 3000
    assert size.data_bytes > 0 and size.bytes_per_row > 0
    # C8: the snapshot log's manifest bytes, never a constant 0
    assert 0 < size.manifest_bytes < size.data_bytes
    assert size.total_bytes == size.data_bytes + size.manifest_bytes

    # re-run is a no-op (checkpoint restart invariant, bench.ts:69-74)
    stats2 = load_table(spark, wh, cfg, table, plan)
    assert stats2["loaded_batches"] == 0 and stats2["skipped_batches"] == 3
    assert measure_sizes(wh, cfg.schema, table, "zstd", 6).row_count == 3000

    # partial checkpoint: drop one batch from the file -> only that one reloads
    ck = Checkpoint(plan.checkpoint_dir, table)
    with open(ck.path, "w") as f:
        json.dump({"completedBatches": [0, 2]}, f)
    stats3 = load_table(spark, wh, cfg, table, plan)
    assert stats3["loaded_batches"] == 1 and stats3["rows"] == 1000

    # partitioned batches load concurrently: each append writes its own
    # generation dir and CAS-commits, so 4 in-flight batches lose nothing
    # and duplicate nothing
    from hands_on_iceberg_compression_spark.functions.generators import generate_df
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        apply_partition_transforms,
    )

    assert cfg.partitioning
    par = "par_c4"
    wh.create_table(cfg.schema, par, "zstd", 6, partitioning=cfg.partitioning)
    plan4 = LoadPlan(
        total_rows=4000, batch_rows=1000, concurrency=4,
        checkpoint_dir=str(tmp_path / "ckpt4"), compact_after_load=False,
        partitions_per_batch=2, progress=False,
    )
    assert load_table(spark, wh, cfg, par, plan4)["loaded_batches"] == 4
    got = wh.read(cfg.schema, par)

    def checksum(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*got.columns)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    want = None
    for b in make_batches(1, 4000, 1000):
        df = generate_df(spark, cfg, start_id=b.start_id, num_rows=b.rows, seed=1)
        want = df if want is None else want.unionByName(df)
    want, _ = apply_partition_transforms(want, cfg.partitioning)
    assert checksum(got) == checksum(want.select(*got.columns))
    assert checksum(got)[0] == 4000
    gens: dict[str, set[str]] = {}
    for e in wh.head_snapshot(cfg.schema, par)["files"]:
        _data, batch, gen = e["path"].split(os.sep)[:3]
        gens.setdefault(batch, set()).add(gen)
    assert sorted(gens) == [f"batch_{i:06d}" for i in range(4)]
    assert all(len(g) == 1 for g in gens.values())


def test_optimize_compacts_files(spark, tmp_path):
    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "compact_me"
    wh.create_table(cfg.schema, table, "zstd", 6)
    plan = LoadPlan(
        total_rows=4000, batch_rows=500, concurrency=1,
        checkpoint_dir=str(tmp_path / "ckpt"), compact_after_load=False,
        partitions_per_batch=4, progress=False,
    )
    load_table(spark, wh, cfg, table, plan)
    before = len(wh.files(cfg.schema, table))
    assert before >= 8  # 8 batches x 4 partitions
    n_after = wh.optimize(cfg.schema, table, target_file_size_bytes=64 * 1024 * 1024)
    assert n_after < before
    # content preserved
    assert wh.read(cfg.schema, table).count() == 4000
    size = measure_sizes(wh, cfg.schema, table, "zstd", 6)
    assert size.row_count == 4000 and size.file_count == n_after


def test_codec_bench_end_to_end(spark, tmp_path):
    cfg = narrow_example_config()
    cfg.partitioning = []  # codec comparison on unpartitioned tables (CLI default)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    plan = LoadPlan(
        total_rows=5000, batch_rows=2500, concurrency=1,
        checkpoint_dir=str(tmp_path / "ckpt"), compact_after_load=True,
        partitions_per_batch=2, progress=False,
    )
    csv_path = str(tmp_path / "results_sizes.csv")
    res = run_codec_bench(
        spark, wh, cfg, plan,
        codec_levels=[("zstd", 1), ("zstd", 9), ("snappy", None), ("uncompressed", None)],
        csv_path=csv_path, verbose=False,
    )
    assert len(res.sizes) == 4
    by_codec = {(r.codec, r.level): r for r in res.sizes}
    for r in res.sizes:
        assert r.row_count == 5000, r
    # compression sanity; random-hex payloads are near-incompressible, so
    # zstd-9 may tie or marginally exceed zstd-1 (allow 3%) — the dedicated
    # level-knob test below proves the level applies on compressible data
    assert by_codec[("zstd", 9)].data_bytes <= by_codec[("zstd", 1)].data_bytes * 1.03
    assert by_codec[("zstd", 1)].data_bytes < by_codec[("uncompressed", None)].data_bytes
    assert by_codec[("snappy", None)].data_bytes < by_codec[("uncompressed", None)].data_bytes

    # deterministic generation: identical logical rows under every codec
    t1 = wh.read(cfg.schema, variant_table_name(cfg.table_base, "zstd", 1))
    t2 = wh.read(cfg.schema, variant_table_name(cfg.table_base, "uncompressed", None))
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0

    # reporting artifacts
    assert os.path.exists(csv_path)
    table_str = console_table(res.sizes)
    assert "zstd" in table_str and "bytes/row" in table_str
    svgs = plot_results(csv_path, assets_dir=str(tmp_path / "assets"))
    for p in svgs:
        assert os.path.exists(p)
        with open(p) as f:
            content = f.read()
        assert content.startswith("<svg") and "</svg>" in content


def test_codec_bench_honors_declared_partitioning(spark, tmp_path):
    """Declared config.partitioning must reach the variant tables (the
    reference's dead-config defect, fixed for real)."""
    import os

    cfg = narrow_example_config()  # declares days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    plan = LoadPlan(
        total_rows=2000, batch_rows=2000, concurrency=1,
        checkpoint_dir=str(tmp_path / "ckpt"), compact_after_load=False,
        partitions_per_batch=2, progress=False,
    )
    res = run_codec_bench(spark, wh, cfg, plan, codec_levels=[("zstd", 3)], verbose=False)
    assert res.sizes[0].row_count == 2000
    table = variant_table_name(cfg.table_base, "zstd", 3)
    files = wh.head_snapshot(cfg.schema, table)["files"]
    days = {e["partitions"]["created_at_day"] for e in files}
    assert len(days) > 100  # ~366 day partitions over 2024
    for e in files:
        d = e["partitions"]["created_at_day"]
        assert f"{os.sep}created_at_day={d}{os.sep}" in e["path"]


def test_zstd_level_knob_changes_size(spark, tmp_path):
    """write.parquet.compression-level equivalent must actually bite."""
    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    df = generate_df(spark, cfg, 1, 20000, seed=5, num_partitions=1)
    for lvl in (1, 19):
        wh.create_table(cfg.schema, f"t_l{lvl}", "zstd", lvl)
        wh.append(cfg.schema, f"t_l{lvl}", df)
    s1 = measure_sizes(wh, cfg.schema, "t_l1", "zstd", 1)
    s19 = measure_sizes(wh, cfg.schema, "t_l19", "zstd", 19)
    assert s19.data_bytes < s1.data_bytes, (s1.data_bytes, s19.data_bytes)


def test_rewrite_per_column_codec(spark, tmp_path):
    """Per-column codec rewrite: values preserved, column chunks actually
    carry the overridden codec, Spark reads the result, metadata records it."""
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "percol"
    wh.create_table(cfg.schema, table, "zstd", 6)
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    df = generate_df(spark, cfg, 1, 5000, seed=7, num_partitions=2)
    wh.append(cfg.schema, table, df)
    before = wh.read(cfg.schema, table).orderBy("id").collect()

    from hands_on_iceberg_compression_spark.sources.warehouse import (
        string_column_overrides,
    )

    overrides = string_column_overrides(wh.read(cfg.schema, table), "zstd", 1)
    assert "user_name" in overrides and "id" not in overrides
    res = wh.rewrite_per_column_codec(cfg.schema, table, overrides)
    assert res["files"] >= 1 and res["overridden_columns"] == len(overrides)

    # parquet footers: overridden columns ZSTD (level is not recorded in the
    # footer, but codec is) and non-string columns keep the default codec
    path = wh._data_files(cfg.schema, table)[0]
    md = pq.ParquetFile(path).metadata
    codec_of = {
        md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i).compression
        for i in range(md.num_columns)
    }
    assert codec_of["user_name"] == "ZSTD"
    assert codec_of["id"] == "ZSTD"
    # mixed-codec check: rewrite once more with lz4 strings to prove the
    # per-column dict truly diverges within one file
    wh.rewrite_per_column_codec(
        cfg.schema, table, string_column_overrides(wh.read(cfg.schema, table), "lz4", None)
    )
    path = wh._data_files(cfg.schema, table)[0]
    md = pq.ParquetFile(path).metadata
    codec_of = {
        md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i).compression
        for i in range(md.num_columns)
    }
    assert codec_of["user_name"].startswith("LZ4")
    assert codec_of["id"] == "ZSTD"
    # nested leaf chunks must inherit the table default, not fall to
    # UNCOMPRESSED (pyarrow matches nested columns by leaf path only)
    assert codec_of["tags.list.element"] == "ZSTD"

    after = wh.read(cfg.schema, table).orderBy("id").collect()
    assert after == before
    props = wh.show_properties(cfg.schema, table)
    assert "per_column_codecs" in props and "user_name" in props["per_column_codecs"]


def test_codec_advisor_end_to_end(spark, tmp_path):
    """Advisor policy invariants + the advice actually drives a rewrite."""
    from hands_on_iceberg_compression_spark.functions.generators import generate_df
    from hands_on_iceberg_compression_spark.pipeline.codec_advisor import (
        SIZE_TOLERANCE,
        advise,
        overrides_from_advice,
    )

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "advised"
    wh.create_table(cfg.schema, table, "zstd", 6)
    df = generate_df(spark, cfg, 1, 5000, seed=11, num_partitions=1)
    wh.append(cfg.schema, table, df)

    read = wh.read(cfg.schema, table).drop("tags")  # advisor is per-leaf; keep flat
    advice = advise(read, sample_rows=2000)
    assert set(advice) == set(read.columns)
    for a in advice.values():
        # the policy's own contract: never more than tolerance above optimal
        assert a.encoded_bytes <= a.best_bytes * (1 + SIZE_TOLERANCE) + 1
        assert a.decode_ms > 0

    overrides = overrides_from_advice(advice, ("zstd", 6))
    # applying the advice must round-trip values exactly
    before = wh.read(cfg.schema, table).orderBy("id").collect()
    if overrides:
        flat_overrides = {c: o for c, o in overrides.items() if c != "tags"}
        wh.rewrite_per_column_codec(cfg.schema, table, flat_overrides)
    after = wh.read(cfg.schema, table).orderBy("id").collect()
    assert before == after


def test_merge_upsert_partitioned_touches_only_changed_partitions(spark, tmp_path):
    """MERGE semantics (update wins, insert lands, tombstone removes) AND the
    copy-on-write contract: files of untouched partitions are not replaced."""
    import os

    import pytest

    cfg = narrow_example_config()  # declares days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "merge_part"
    wh.create_table(cfg.schema, table, "zstd", 6, partitioning=cfg.partitioning)
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    df = generate_df(spark, cfg, 1, 3000, seed=13, num_partitions=2)
    wh.append(cfg.schema, table, df)
    before = wh.read(cfg.schema, table)
    n_before = before.count()

    # one existing row to update, one to delete, one new id to insert —
    # all confined to the victim row's day-partition
    victim, casualty = [
        r.asDict() for r in before.drop("created_at_day").orderBy("id").limit(2).collect()
    ]
    updated = dict(victim, amount=99999.5)
    inserted = dict(victim, id=10_000_000)
    deleted = dict(casualty)
    from pyspark.sql import types as T

    base_schema = before.drop("created_at_day").schema
    schema_cols = [f.name for f in base_schema.fields]
    up_schema = T.StructType(
        base_schema.fields + [T.StructField("_del", T.BooleanType())]
    )
    updates = spark.createDataFrame(
        [
            tuple(updated[c] for c in schema_cols) + (False,),
            tuple(inserted[c] for c in schema_cols) + (False,),
            tuple(deleted[c] for c in schema_cols) + (True,),
        ],
        up_schema,
    )

    files_before = {
        p: os.path.getmtime(p) for p in wh._data_files(cfg.schema, table)
    }
    res = wh.merge_upsert(cfg.schema, table, updates, ["id"], delete_col="_del")
    assert res["upserts"] == 2 and res["deletes"] == 1
    assert res["partitions_rewritten"] >= 1

    after = wh.read(cfg.schema, table)
    assert after.count() == n_before  # +1 insert -1 delete
    assert after.filter(F.col("id") == updated["id"]).collect()[0].amount == 99999.5
    assert after.filter(F.col("id") == 10_000_000).count() == 1
    assert after.filter(F.col("id") == deleted["id"]).count() == 0

    # untouched partitions: every file is still listed in the head
    # manifest, with identical path and mtime
    files_after = set(wh._data_files(cfg.schema, table))
    import datetime as _dt

    touched_days = {
        d.strftime("%Y-%m-%d") if isinstance(d, (_dt.date, _dt.datetime)) else str(d)
        for d in (updated["created_at"].date(), deleted["created_at"].date())
    }
    for p, mtime in files_before.items():
        day = next(
            (seg.split("=", 1)[1] for seg in p.split(os.sep) if seg.startswith("created_at_day=")),
            None,
        )
        if day not in touched_days:
            assert p in files_after, p
            assert os.path.exists(p) and os.path.getmtime(p) == mtime, p

    # ambiguous MERGE refused
    dup = updates.unionByName(updates)
    with pytest.raises(ValueError, match="duplicate keys"):
        wh.merge_upsert(cfg.schema, table, dup, ["id"], delete_col="_del")


def test_merge_upsert_unpartitioned(spark, tmp_path):
    """Unpartitioned fallback: full crash-safe rewrite, same semantics."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "merge_flat"
    wh.create_table(cfg.schema, table, "zstd", 6)
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 500, seed=17, num_partitions=1))
    before = wh.read(cfg.schema, table)
    n = before.count()
    row = before.orderBy("id").limit(1).collect()[0].asDict()
    updated = dict(row, amount=-1.0)
    cols = [f.name for f in before.schema.fields]
    updates = spark.createDataFrame(
        [tuple(updated[c] for c in cols)], before.schema
    )
    res = wh.merge_upsert(cfg.schema, table, updates, ["id"])
    assert res == {"upserts": 1, "deletes": 0, "partitions_rewritten": 0}
    after = wh.read(cfg.schema, table)
    assert after.count() == n
    assert after.filter(F.col("id") == row["id"]).collect()[0].amount == -1.0


def test_merge_upsert_moves_row_across_partitions(spark, tmp_path):
    """An update that changes the partition-source column must remove the
    stale row from its OLD partition (discovery-scan scoping), and a
    tombstone that empties a partition must remove that partition's dir."""
    import datetime as dt

    from pyspark.sql import types as T

    cfg = narrow_example_config()  # days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "merge_move"
    wh.create_table(cfg.schema, table, "zstd", 6, partitioning=cfg.partitioning)
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    df = generate_df(spark, cfg, 1, 2000, seed=23, num_partitions=1)
    wh.append(cfg.schema, table, df)
    before = wh.read(cfg.schema, table)
    n_before = before.count()

    victim = before.drop("created_at_day").orderBy("id").limit(1).collect()[0].asDict()
    old_day = victim["created_at"].date()
    # move the row ~400 days forward — guaranteed different partition
    moved = dict(victim, created_at=victim["created_at"] + dt.timedelta(days=400))

    base_schema = before.drop("created_at_day").schema
    cols = [f.name for f in base_schema.fields]
    updates = spark.createDataFrame([tuple(moved[c] for c in cols)], base_schema)
    res = wh.merge_upsert(cfg.schema, table, updates, ["id"])
    assert res["upserts"] == 1

    after = wh.read(cfg.schema, table)
    assert after.count() == n_before
    rows = after.filter(F.col("id") == victim["id"]).collect()
    assert len(rows) == 1, "stale row left in the old partition"
    assert rows[0].created_at == moved["created_at"]
    # old partition must not contain the key anymore
    assert (
        after.filter(
            (F.col("created_at_day") == F.lit(old_day)) & (F.col("id") == victim["id"])
        ).count()
        == 0
    )

    # tombstone every remaining row of the old partition -> its dir vanishes
    old_part_rows = (
        wh.read(cfg.schema, table)
        .filter(F.col("created_at_day") == F.lit(old_day))
        .drop("created_at_day")
    )
    n_old = old_part_rows.count()
    if n_old:
        tomb_schema = T.StructType(
            base_schema.fields + [T.StructField("_del", T.BooleanType())]
        )
        tombs = spark.createDataFrame(
            [tuple(r[c] for c in cols) + (True,) for r in old_part_rows.collect()],
            tomb_schema,
        )
        res2 = wh.merge_upsert(cfg.schema, table, tombs, ["id"], delete_col="_del")
        assert res2["deletes"] == n_old
        left = wh.read(cfg.schema, table).filter(
            F.col("created_at_day") == F.lit(old_day)
        )
        assert left.count() == 0
        import os as _os

        assert not any(
            f"created_at_day={old_day}" in p
            for p in wh._data_files(cfg.schema, table)
        ), "emptied partition dir still present"


def test_snapshot_log_time_travel_and_expiry(spark, tmp_path):
    """Every append commits a snapshot: append-only history time-travels
    exactly; time travel survives compaction until expiry, after which the
    expired snapshots fail detectably; metrology reports real manifest
    bytes."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "snap"
    wh.create_table(cfg.schema, table, "zstd", 3)
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 300, seed=29, num_partitions=1), batch_id="b1")
    m1 = wh.head_snapshot(cfg.schema, table)
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=29, num_partitions=1), batch_id="b2")
    m2 = wh.head_snapshot(cfg.schema, table)

    assert m1["version"] == 1 and m2["version"] == 2 and m2["parent"] == 1
    assert m1["total_rows"] == 300 and m2["total_rows"] == 500
    # time travel: v1 sees exactly the first batch
    assert wh.read_snapshot(cfg.schema, table, 1).count() == 300
    assert wh.read_snapshot(cfg.schema, table, 2).count() == 500

    # C8: metrology now reports real manifest bytes
    size = measure_sizes(wh, cfg.schema, table, "zstd", 3)
    assert size.manifest_bytes == wh.snapshot_manifest_bytes(cfg.schema, table) > 0

    # compaction commits v3; the superseded files stay on disk, so v1
    # still time-travels until expiry
    wh.optimize(cfg.schema, table)
    m3 = wh.head_snapshot(cfg.schema, table)
    assert m3["version"] == 3 and m3["parent"] == 2
    assert wh.read_snapshot(cfg.schema, table, 1).count() == 300
    assert wh.read_snapshot(cfg.schema, table, 3).count() == 500

    # expiry drops the old manifests (and GCs the files only they
    # referenced): v1 then fails detectably, the live table is whole
    removed = wh.expire_snapshots(cfg.schema, table, keep_last=1)
    assert removed == 2
    assert [m["version"] for m in wh.snapshots(cfg.schema, table)] == [3]
    with pytest.raises(KeyError, match="no snapshot v1"):
        wh.read_snapshot(cfg.schema, table, 1)
    assert wh.read(cfg.schema, table).count() == 500


def test_log_table_metrology_report(spark, tmp_path):
    """VERDICT r5 #7: the metrology stage covers the engine's own metadata
    layer — manifest cost (head vs segment bytes) and prune effectiveness
    render in the same console-table/CSV posture as the data-file report."""
    from hands_on_iceberg_compression_spark.functions.generators import generate_df
    from hands_on_iceberg_compression_spark.pipeline.metrology import (
        log_console_table,
        measure_log_table,
    )

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "logmet"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 300, seed=43, num_partitions=1), batch_id="b1")
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=43, num_partitions=1), batch_id="b2")
    row = measure_log_table(
        wh, cfg.schema, table, prune_ranges={"id": (1, 100)}
    )
    assert row.snapshots == 2 and row.live_files == 2 and row.live_rows == 500
    assert row.pruned_total == 2 and row.pruned_kept == 1
    assert row.prune_skip_pct == 50.0
    # the head is the per-commit serialization bound: a fraction of total
    # manifest bytes (which include the immutable entry segments)
    assert 0 < row.head_bytes < row.segment_bytes
    assert row.manifest_bytes == wh.snapshot_manifest_bytes(cfg.schema, table)
    assert row.segment_count >= 2
    out = log_console_table([row])
    assert "prune skip" in out and "50.0%" in out and table in out
    assert row.delete_files == 0 and "pend dels" in out
    # pending merge-on-read deletes surface in the report; fold clears
    wh.delete_where(cfg.schema, table, "id = 7", mode="merge-on-read")
    row2 = measure_log_table(wh, cfg.schema, table)
    assert row2.delete_files == 1 and row2.delete_rows == 1
    wh.optimize(cfg.schema, table)
    assert measure_log_table(wh, cfg.schema, table).delete_files == 0


def test_cli_log_report(spark, tmp_path, capsys):
    """`python -m ... log-report` renders the metadata metrology table."""
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(cfg.schema, "clilog", "zstd", 1, properties={"snapshots": "true"})
    wh.append(cfg.schema, "clilog", generate_df(spark, cfg, 1, 300, seed=67, num_partitions=1), batch_id="b1")
    wh.append(cfg.schema, "clilog", generate_df(spark, cfg, 301, 200, seed=67, num_partitions=1), batch_id="b2")
    rc = cli_main([
        "log-report", "--warehouse", str(tmp_path / "wh"),
        "--schema", cfg.schema, "--table", "clilog",
        "--prune", "id:1:100",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "prune skip" in out and "clilog" in out and "50.0%" in out


def test_log_mode_lifecycle(spark, tmp_path):
    """snapshots=true tables are manifest-driven: appends auto-commit,
    compaction and merge add generations WITHOUT destroying time travel,
    and expiry garbage-collects unreferenced generations."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "logtab"
    wh.create_table(cfg.schema, table, "zstd", 3, properties={"snapshots": "true"})
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 300, seed=31, num_partitions=1), batch_id="b1")
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=31, num_partitions=1), batch_id="b2")
    snaps = wh.snapshots(cfg.schema, table)
    assert [m["operation"] for m in snaps] == ["append", "append"]
    assert wh.read(cfg.schema, table).count() == 500

    # compaction: new generation, OLD SNAPSHOTS STILL READABLE (the log-mode
    # upgrade over dir mode, where optimize expires them)
    wh.optimize(cfg.schema, table)
    assert wh.read(cfg.schema, table).count() == 500
    assert wh.read_snapshot(cfg.schema, table, 1).count() == 300
    assert wh.read_snapshot(cfg.schema, table, 2).count() == 500

    # merge: update one row through the log path; history intact
    before = wh.read(cfg.schema, table)
    row = before.orderBy("id").limit(1).collect()[0].asDict()
    cols = [f.name for f in before.schema.fields]
    updates = spark.createDataFrame(
        [tuple(dict(row, amount=-5.0)[c] for c in cols)], before.schema
    )
    wh.merge_upsert(cfg.schema, table, updates, ["id"])
    assert wh.read(cfg.schema, table).count() == 500
    assert wh.read(cfg.schema, table).filter(F.col("id") == row["id"]).collect()[0].amount == -5.0
    assert wh.read_snapshot(cfg.schema, table, 2).count() == 500  # pre-merge

    # expiry: keep only the newest manifest; superseded generations GC'd
    n_files_before = len([p for p in _walk_parquet(wh, cfg.schema, table)])
    wh.expire_snapshots(cfg.schema, table, keep_last=1)
    live = wh._data_files(cfg.schema, table)
    on_disk = [p for p in _walk_parquet(wh, cfg.schema, table)]
    assert sorted(on_disk) == sorted(live), "expiry left unreferenced files"
    assert len(on_disk) < n_files_before
    assert wh.read(cfg.schema, table).count() == 500
    with pytest.raises((FileNotFoundError, KeyError)):
        wh.read_snapshot(cfg.schema, table, 1)

    # per-column rewrite lands as a committed 'rewrite' generation: codec
    # tuning composes with time travel (VERDICT r3 #6)
    pre_version = wh.snapshots(cfg.schema, table)[-1]["version"]
    res = wh.rewrite_per_column_codec(cfg.schema, table, {"user_name": ("lz4", None)})
    assert res["files"] >= 1
    snaps = wh.snapshots(cfg.schema, table)
    assert snaps[-1]["operation"] == "rewrite"
    assert wh.read(cfg.schema, table).count() == 500
    # the pre-rewrite generation stays readable until expiry
    assert wh.read_snapshot(cfg.schema, table, pre_version).count() == 500
    import pyarrow.parquet as pq

    md = pq.ParquetFile(wh._data_files(cfg.schema, table)[0]).metadata
    codecs = {
        md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i).compression
        for i in range(md.num_columns)
    }
    assert codecs["user_name"] == "LZ4"
    assert all(c == "ZSTD" for leaf, c in codecs.items() if leaf != "user_name")


def _walk_parquet(wh, schema, table):
    import os as _os

    data_dir = wh._live_data_dir(schema, table)
    for base, _d, fns in _os.walk(data_dir):
        for fn in fns:
            if fn.endswith(".parquet"):
                yield _os.path.join(base, fn)


def test_log_mode_concurrent_appends_linearize(spark, tmp_path):
    """The commit race VERDICT r3 'What's wrong' #1: concurrent log-mode
    appends must linearize — versions dense, no manifest clobbered, every
    writer's rows in the final snapshot (Iceberg optimistic-commit loop)."""
    from concurrent.futures import ThreadPoolExecutor

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "race"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    N = 8
    frames = [
        generate_df(spark, cfg, 1 + i * 100, 100, seed=37, num_partitions=1)
        for i in range(N)
    ]

    def do_append(i):
        wh.append(cfg.schema, table, frames[i], batch_id=f"b{i}")

    with ThreadPoolExecutor(max_workers=N) as ex:
        list(ex.map(do_append, range(N)))

    snaps = wh.snapshots(cfg.schema, table)
    assert [m["version"] for m in snaps] == list(range(1, N + 1)), "versions not dense"
    assert snaps[-1]["total_rows"] == N * 100, "a concurrent append's rows were lost"
    assert wh.read(cfg.schema, table).count() == N * 100


def test_log_mode_replayed_batch_is_idempotent(spark, tmp_path):
    """ADVICE r3 medium: a streaming epoch replay (same batch_id) must not
    duplicate rows, crash the commit, or dangle earlier snapshots.  Each
    append writes a unique generation dir; the replay commit drops the
    batch's prior generation from the manifest (delta + drop_prefix)."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "replay"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 300, seed=41, num_partitions=1), batch_id="epoch1")
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=41, num_partitions=1), batch_id="epoch2")
    assert wh.read(cfg.schema, table).count() == 500

    # replay epoch2 (restart after a lost ack) — same batch id, same rows
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=41, num_partitions=1), batch_id="epoch2")
    assert wh.read(cfg.schema, table).count() == 500, "replay duplicated rows"
    snaps = wh.snapshots(cfg.schema, table)
    assert [m["version"] for m in snaps] == [1, 2, 3]
    # EVERY prior snapshot still time-travels: the replay deleted nothing
    assert wh.read_snapshot(cfg.schema, table, 1).count() == 300
    assert wh.read_snapshot(cfg.schema, table, 2).count() == 500
    assert wh.read_snapshot(cfg.schema, table, 3).count() == 500
    # exactly one epoch2 generation is live in the head manifest
    live_batches = {f["path"].split(os.sep)[1] for f in snaps[-1]["files"]}
    assert live_batches == {"epoch1", "epoch2"}


def test_log_mode_partitioned_pruning_and_time_travel(spark, tmp_path):
    """VERDICT r3 #5: snapshots=true + PARTITIONED BY compose.  Manifests
    record per-file partition values; reads parse hive dirs per generation
    (PartitionFilters pruning asserted) and time travel survives optimize."""
    cfg = narrow_example_config()  # days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "logpart"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfg.partitioning,
    )
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 400, seed=43, num_partitions=1), batch_id="b1")
    wh.append(cfg.schema, table, generate_df(spark, cfg, 401, 300, seed=43, num_partitions=1), batch_id="b2")

    df = wh.read(cfg.schema, table)
    assert "created_at_day" in df.columns
    assert df.count() == 700

    # manifest-level parity: every file entry carries its partition tuple
    head = wh.snapshots(cfg.schema, table)[-1]
    assert all("partitions" in f and "created_at_day" in f["partitions"] for f in head["files"])

    # partition pruning reaches the scan on BOTH generation branches
    some_day = df.select("created_at_day").limit(1).collect()[0][0]
    q = df.filter(F.col("created_at_day") == F.lit(some_day))
    plan = q._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scans and all("created_at_day" in l for l in scans), plan
    assert q.count() > 0

    # compaction keeps partition layout AND history
    wh.optimize(cfg.schema, table)
    assert wh.read(cfg.schema, table).count() == 700
    assert wh.read_snapshot(cfg.schema, table, 1).count() == 400
    head = wh.snapshots(cfg.schema, table)[-1]
    assert head["operation"] == "optimize"
    assert all("partitions" in f for f in head["files"])

    # merge through the log path keeps counts and history
    before = wh.read(cfg.schema, table).drop("created_at_day")
    row = before.orderBy("id").limit(1).collect()[0].asDict()
    cols = [f.name for f in before.schema.fields]
    updates = spark.createDataFrame(
        [tuple(dict(row, amount=-7.0)[c] for c in cols)], before.schema
    )
    wh.merge_upsert(cfg.schema, table, updates, ["id"])
    after = wh.read(cfg.schema, table)
    assert after.count() == 700
    assert after.filter(F.col("id") == row["id"]).collect()[0].amount == -7.0
    assert wh.read_snapshot(cfg.schema, table, 2).count() == 700  # pre-merge

    # expiry GC leaves exactly the live file set
    wh.expire_snapshots(cfg.schema, table, keep_last=1)
    live = wh._data_files(cfg.schema, table)
    on_disk = list(_walk_parquet(wh, cfg.schema, table))
    assert sorted(on_disk) == sorted(live)
    assert wh.read(cfg.schema, table).count() == 700


def test_log_mode_expire_all_refused(spark, tmp_path):
    """ADVICE r3 low: keep_last=0 would brick a log table (every manifest
    AND every data file gone) — must be refused."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "noexpire"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 100, seed=47, num_partitions=1))
    with pytest.raises(ValueError, match="keep_last"):
        wh.expire_snapshots(cfg.schema, table, keep_last=0)
    assert wh.read(cfg.schema, table).count() == 100


def test_log_mode_optimize_honors_sort_order(spark, tmp_path):
    """ADVICE r3 low: log-mode compaction must apply the WRITE ORDERED BY
    contract (disjoint per-file sort-key ranges), same as dir mode."""
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "logsorted"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, sort_order=["id"],
    )
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    for i in range(3):
        wh.append(cfg.schema, table, generate_df(spark, cfg, 1 + i * 500, 500, seed=53, num_partitions=2))
    wh.optimize(cfg.schema, table, target_file_size_bytes=8 * 1024)
    files = wh._data_files(cfg.schema, table)
    assert len(files) >= 2, "need multiple output files to check disjointness"
    ranges = []
    for p in files:
        md = pq.ParquetFile(p).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "id"
        )
        mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping sort ranges after log-mode optimize: {ranges}"


def test_remove_orphan_files_age_gated(spark, tmp_path):
    """Iceberg remove_orphan_files twin: unreferenced data files older than
    the grace window are swept; YOUNG unreferenced files (a concurrent
    in-flight append's not-yet-committed generation) are left alone, and the
    live table is untouched."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "orphans"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 200, seed=61, num_partitions=1))
    live_before = set(wh._data_files(cfg.schema, table))

    # fabricate a crashed write: a generation dir with no manifest entry
    data_dir = wh._live_data_dir(cfg.schema, table)
    old_orphan = os.path.join(data_dir, "batch_crashed", "g_dead", "part-0.parquet")
    young_orphan = os.path.join(data_dir, "batch_inflight", "g_new", "part-0.parquet")
    src = next(iter(live_before))
    for p in (old_orphan, young_orphan):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        import shutil as _sh

        _sh.copyfile(src, p)
    os.utime(old_orphan, (1, 1))  # ancient mtime

    removed = wh.remove_orphan_files(cfg.schema, table, older_than_s=3600)
    assert removed == 1
    assert not os.path.isfile(old_orphan)
    assert os.path.isfile(young_orphan), "grace window violated"
    assert set(wh._data_files(cfg.schema, table)) == live_before
    assert wh.read(cfg.schema, table).count() == 200


def test_replace_commit_conflict_detected(spark, tmp_path):
    """A replace-commit (optimize/merge/rewrite) whose head moved since it
    read the table must RAISE, not blindly retry — a blind replace would
    erase the concurrent append's rows (Iceberg conflicting-rewrite
    validation)."""
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "conflict"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 100, seed=67, num_partitions=1))
    wh.append(cfg.schema, table, generate_df(spark, cfg, 101, 100, seed=67, num_partitions=1))
    live = wh._data_files(cfg.schema, table)
    # a rewrite that read the table at v1 tries to publish after v2 landed
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        wh.commit_snapshot(
            cfg.schema, table, "optimize", file_paths=live[:1], expected_parent=1
        )
    # nothing was committed; the table is unchanged
    assert wh.snapshots(cfg.schema, table)[-1]["version"] == 2
    assert wh.read(cfg.schema, table).count() == 200


def test_one_table_format(spark, tmp_path):
    """Every table keeps a snapshot log: a table created with no
    properties commits version 1 on its first append and time-travels;
    any other ``snapshots`` value names the removed directory format and
    is refused; parquet files without a snapshot log are not a table."""
    import shutil

    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    from hands_on_iceberg_compression_spark.functions.generators import generate_df

    wh.create_table(cfg.schema, "plain", "zstd", 1)
    wh.append(cfg.schema, "plain", generate_df(spark, cfg, 1, 50, seed=71, num_partitions=1))
    assert wh.head_snapshot(cfg.schema, "plain")["version"] == 1
    assert wh.read_snapshot(cfg.schema, "plain", 1).count() == 50

    with pytest.raises(ValueError, match="directory tables were removed"):
        wh.create_table(cfg.schema, "dirmode", "zstd", 1, properties={"snapshots": "false"})

    # a data dir with parquet files but no snapshot log (the removed
    # directory format's on-disk shape) fails loudly, never reads empty
    wh.create_table(cfg.schema, "nolog", "zstd", 1)
    src = wh._data_files(cfg.schema, "plain")[0]
    dst = os.path.join(wh._live_data_dir(cfg.schema, "nolog"), "batch_x", os.path.basename(src))
    os.makedirs(os.path.dirname(dst))
    shutil.copyfile(src, dst)
    with pytest.raises(ValueError, match="no committed snapshot"):
        wh.read(cfg.schema, "nolog")
    # with no manifest nothing proves a file unreferenced: the orphan
    # sweep refuses instead of deleting the old format's data
    with pytest.raises(ValueError, match="no committed snapshot"):
        wh.remove_orphan_files(cfg.schema, "nolog", older_than_s=0)
    assert os.path.isfile(dst)
