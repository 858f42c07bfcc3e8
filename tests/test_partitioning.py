"""Partition-transform writes + partition pruning (the reference's dead
``partitioning: ["date(created_at)"]`` config — sqlHelpers.ts:127 FIXME —
implemented for real)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.functions.generators import generate_df
from hands_on_iceberg_compression_spark.plans.explain import partition_filters
from hands_on_iceberg_compression_spark.schema.reference_schemas import (
    narrow_example_config,
)
from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
    apply_partition_transforms,
    partition_transform_exprs,
)


def test_transform_parsing():
    specs = ["days(created_at)", "months(ts)", "bucket(16, id)", "country"]
    names = [n for n, _ in partition_transform_exprs(specs)]
    assert names == ["created_at_day", "ts_month", "id_bucket", "country"]


def test_partitioned_write_and_prune(spark, tmp_path):
    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "orders_part"
    wh.create_table(cfg.schema, table, "zstd", 3, partitioning=["months(created_at)"])
    df = generate_df(spark, cfg, 1, 5000, seed=11, num_partitions=4)
    wh.append(cfg.schema, table, df)

    back = wh.read(cfg.schema, table)
    assert back.count() == 5000
    assert "created_at_month" in back.columns

    # hive layout on disk, one partition value per file in the head manifest
    files = wh.head_snapshot(cfg.schema, table)["files"]
    months = {e["partitions"]["created_at_month"] for e in files}
    assert len(months) == 12
    for e in files:
        m = e["partitions"]["created_at_month"]
        assert f"{os.sep}created_at_month={m}{os.sep}" in e["path"]

    # partition pruning: filter on the transform column reaches the scan as
    # a PartitionFilter, not a data filter
    q = back.filter(F.col("created_at_month") == "2024-03").select("id", "amount")
    assert any("created_at_month" in f for f in partition_filters(q))
    n_march = q.count()
    assert 0 < n_march < 5000

    # optimize preserves partitioning and content
    wh.optimize(cfg.schema, table, target_file_size_bytes=64 * 1024 * 1024)
    after = wh.read(cfg.schema, table)
    assert after.count() == 5000
    assert after.filter(F.col("created_at_month") == "2024-03").count() == n_march


def test_sorted_by_gives_disjoint_file_ranges(spark, tmp_path):
    """sort_order compaction must produce files with non-overlapping min/max
    on the sort key (the row-group-skipping precondition)."""
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(cfg.schema, "sorted_t", "zstd", 3, sort_order=["created_at"])
    df = generate_df(spark, cfg, 1, 30000, seed=13, num_partitions=8)
    wh.append(cfg.schema, "sorted_t", df)
    wh.optimize(cfg.schema, "sorted_t", target_file_size_bytes=256 * 1024)

    stats = wh.files(cfg.schema, "sorted_t")
    assert len(stats) >= 3
    ranges = []
    for s in stats:
        md = pq.ParquetFile(s.file_path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["created_at"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"
    # content preserved
    assert wh.read(cfg.schema, "sorted_t").count() == 30000


def test_apply_transforms_identity_passthrough(spark):
    cfg = narrow_example_config()
    df = generate_df(spark, cfg, 1, 100, seed=1)
    out, names = apply_partition_transforms(df, ["country"])
    assert names == ["country"]
    assert out.columns == df.columns  # identity adds nothing
