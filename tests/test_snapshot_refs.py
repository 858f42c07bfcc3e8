"""Snapshot refs and consumers (round-7 Iceberg-parity closers): TAGS
(named immutable refs that pin snapshots through expiry), INCREMENTAL
append scans (the CDC consumer pattern: read only the files added
between two snapshots, refuse non-append history), and the
``$partitions`` metadata table (per-partition stats from the manifest,
zero data IO).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def seq_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "sq", "zstd", 1, properties={"snapshots": "true"})
    for i in range(3):  # v1, v2, v3 — 10 rows each
        wh.append(
            "lab", "sq",
            spark.createDataFrame(
                [(i * 10 + j,) for j in range(10)], "id int"
            ).coalesce(1),
            batch_id=f"b{i}",
        )
    return wh


def test_tags_pin_read_and_survive_expiry(seq_table):
    wh = seq_table
    wh.create_tag("lab", "sq", "release-1", version=1)
    assert wh.tags("lab", "sq") == {"release-1": 1}
    assert wh.read_snapshot("lab", "sq", "release-1").count() == 10
    # tags are immutable; duplicates and bad names raise
    with pytest.raises(ValueError, match="already exists"):
        wh.create_tag("lab", "sq", "release-1", version=2)
    with pytest.raises(ValueError, match="invalid tag name"):
        wh.create_tag("lab", "sq", "../escape")
    with pytest.raises(ValueError, match="no tag"):
        wh.read_snapshot("lab", "sq", "ghost")
    # expiry that would remove v1 retains it (and its files) via the tag
    assert wh.expire_snapshots("lab", "sq", keep_last=1) == 1  # only v2 dies
    assert wh.read_snapshot("lab", "sq", "release-1").count() == 10
    assert sorted(wh._snapshot_versions("lab", "sq")) == [1, 3]
    # dropping the tag releases the snapshot to the next expiry
    wh.drop_tag("lab", "sq", "release-1")
    with pytest.raises(ValueError, match="no tag"):
        wh.drop_tag("lab", "sq", "release-1")
    assert wh.expire_snapshots("lab", "sq", keep_last=1) == 1
    assert wh._snapshot_versions("lab", "sq") == [3]
    assert wh.read("lab", "sq").count() == 30


def test_incremental_reads_only_new_files(seq_table):
    wh = seq_table
    inc = wh.read_incremental("lab", "sq", 1)  # v1 -> head
    assert sorted(r.id for r in inc.collect()) == list(range(10, 30))
    inc12 = wh.read_incremental("lab", "sq", 1, 2)
    assert sorted(r.id for r in inc12.collect()) == list(range(10, 20))
    # same-version window: schema-stable empty
    assert wh.read_incremental("lab", "sq", 3, 3).count() == 0
    # tags address windows too
    wh.create_tag("lab", "sq", "ckpt", version=2)
    assert wh.read_incremental("lab", "sq", "ckpt").count() == 10
    with pytest.raises(ValueError, match="precedes"):
        wh.read_incremental("lab", "sq", 3, 1)


def test_incremental_refuses_rewritten_history(seq_table):
    wh = seq_table
    wh.optimize("lab", "sq")  # v4 rewrites everything
    with pytest.raises(ValueError, match="non-append history"):
        wh.read_incremental("lab", "sq", 1)
    # a fresh checkpoint AFTER the rewrite works again
    v4 = wh.head_snapshot("lab", "sq")["version"]
    wh.append(
        "lab", "sq",
        wh.spark.createDataFrame([(99,)], "id int").coalesce(1),
        batch_id="b9",
    )
    assert [r.id for r in wh.read_incremental("lab", "sq", v4).collect()] == [99]


def test_incremental_across_schema_evolution(spark, tmp_path):
    """DDL between the endpoints is metadata-only and passes; the delta
    presents under the NEWER snapshot's schema."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "ie", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "ie",
        spark.createDataFrame([(1, "a")], "id int, name string"), batch_id="g1",
    )  # v1
    wh.rename_column("lab", "ie", "name", "label")  # v2
    wh.append(
        "lab", "ie",
        spark.createDataFrame([(2, "b")], "id int, label string"), batch_id="g2",
    )  # v3
    inc = wh.read_incremental("lab", "ie", 1)
    assert inc.columns == ["id", "label"]
    assert [(r.id, r.label) for r in inc.collect()] == [(2, "b")]
    # DDL-only window: empty, under the evolved schema
    empty = wh.read_incremental("lab", "ie", 1, 2)
    assert empty.count() == 0 and empty.columns == ["id", "label"]


def test_partitions_report(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "pr", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    for b in range(2):
        wh.append(
            "lab", "pr",
            spark.createDataFrame(
                [(d, b * 10 + j) for d in ("2024-01-01", "2024-01-02")
                 for j in range(3)],
                "day string, v int",
            ).coalesce(1),
            batch_id=f"b{b}",
        )
    rep = wh.partitions_report("lab", "pr")
    assert [r["partition"] for r in rep] == [
        {"day": "2024-01-01"}, {"day": "2024-01-02"},
    ]
    for r in rep:
        assert r["files"] == 2 and r["rows"] == 6 and r["bytes"] > 0
    # unpartitioned: one aggregate row
    wh.create_table("lab", "flat", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "flat",
        spark.createDataFrame([(1,), (2,)], "id int").coalesce(1),
        batch_id="b0",
    )
    flat = wh.partitions_report("lab", "flat")
    assert len(flat) == 1 and flat[0]["partition"] == {} and flat[0]["rows"] == 2
