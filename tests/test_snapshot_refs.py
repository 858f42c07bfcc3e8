"""Snapshot refs and consumers (round-7 Iceberg-parity closers): TAGS
(named immutable refs that pin snapshots through expiry) and the
``$partitions`` metadata table (per-partition stats from the manifest,
zero data IO).
"""

from __future__ import annotations

import pytest

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
