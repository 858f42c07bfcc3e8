"""Round-7 fixes for ADVICE r6 + VERDICT r6 minor findings:

- ``_pv_disjoint`` accepts FLOAT literal endpoints (the medium finding:
  rejecting '10.5' let lexicographic order decide alone and over-prune —
  ``_pv_disjoint('9', '1.5', '10.5')`` returned True although 9 is
  numerically inside the range, silently dropping matching rows from
  pruned reads).
- Segment-cache eviction is LRU one-at-a-time, not clear-all (VERDICT r6
  what's-wrong #1): crossing the capacity never dumps the whole memo.
- ``prune_files`` / scoped ``optimize`` accept DISCRETE partition value
  sets, and streaming maintenance passes the touched values exactly
  instead of a (min, max) envelope that swept cold partitions in between
  (ADVICE r6 low).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.functions.generators import generate_df
from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


# --- float endpoints in partition-value pruning (ADVICE r6 medium) -------


def test_pv_disjoint_accepts_float_endpoints():
    pd = ParquetWarehouse._pv_disjoint
    # the reported over-prune: 9 is numerically inside [1.5, 10.5] even
    # though '9' > '10.5' lexicographically
    assert pd("9", "1.5", "10.5", None) is False
    assert pd("9", 1.5, 10.5, None) is False
    # genuinely disjoint float ranges still prune
    assert pd("9", "9.5", "10.5", None) is True
    assert pd("11", "1.5", "10.5", None) is True
    # float partition values compare numerically too
    assert pd("2.5", "1.5", "10.5", None) is False
    assert pd("0.5", "1.5", "10.5", None) is True
    # non-numeric values still keep the conservative both-orders rule
    assert pd("abc", "1.5", "10.5", None) is True  # lex decides (NULL cast)


def test_float_endpoint_pruning_keeps_matching_rows(spark, tmp_path):
    """pruned+filter == full+filter with float endpoints over an integer
    identity partition — the invariant ADVICE r6 showed breaking."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "floatp", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["bucket"],
    )
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 13)], "bucket int, v int"
    )
    wh.append("lab", "floatp", df, batch_id="b0")
    kept, total = wh.prune_files("lab", "floatp", {"bucket": (1.5, 10.5)})
    assert total == 12
    kept_buckets = sorted(
        int(p.split("bucket=")[1].split("/")[0]) for p in kept
    )
    assert kept_buckets == list(range(2, 11))  # 2..10 inside (1.5, 10.5)
    pred = (F.col("bucket") >= 1.5) & (F.col("bucket") <= 10.5)
    full = {r.v for r in wh.read("lab", "floatp").filter(pred).collect()}
    pruned = {
        r.v
        for r in wh.read_pruned("lab", "floatp", {"bucket": (1.5, 10.5)})
        .filter(pred)
        .collect()
    }
    assert pruned == full and len(full) == 9


# --- LRU segment-cache eviction (VERDICT r6 #5) ---------------------------


def _fake_entries(i: int) -> list[dict]:
    return [
        {"path": f"data/b{i:04d}/g_x/part-0.parquet", "rows": 1, "bytes": 10,
         "seq": i + 1}
    ]


def test_segment_cache_evicts_lru_not_all(tmp_path, monkeypatch):
    """Crossing the cache capacity evicts ONE cold entry per insert; a
    second pass over the most-recently-used window re-parses nothing
    (the old clear-all re-parsed ~everything)."""
    monkeypatch.setattr(ParquetWarehouse, "_SEG_CACHE_MAX", 16)
    wh = ParquetWarehouse(None, str(tmp_path / "wh"))  # no Spark needed
    os.makedirs(wh._snap_dir("s", "t"), exist_ok=True)
    names = [
        wh._write_segment("s", "t", _fake_entries(i))["path"] for i in range(20)
    ]
    wh._seg_cache.clear()
    wh._seg_parses = 0
    for n in names:
        wh._load_segment("s", "t", n)
    assert wh._seg_parses == 20
    assert len(wh._seg_cache) == 16  # capacity held, not cleared
    # the 16 most recent are all hits — zero re-parses
    for n in names[4:]:
        wh._load_segment("s", "t", n)
    assert wh._seg_parses == 20
    # touching an evicted entry re-parses exactly that one
    wh._load_segment("s", "t", names[0])
    assert wh._seg_parses == 21
    # an LRU hit refreshes recency: names[4] (oldest cached) was NOT
    # evicted by the names[0] insert if we touch it first
    wh._load_segment("s", "t", names[5])
    wh._load_segment("s", "t", names[1])  # evicts the coldest, not names[5]
    assert wh._seg_parses == 22
    wh._load_segment("s", "t", names[5])
    assert wh._seg_parses == 22  # still cached


# --- discrete partition-value scoping (ADVICE r6 low) ---------------------


def test_prune_files_discrete_value_set(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "disc", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    df = spark.createDataFrame(
        [(f"2024-01-{d:02d}", d) for d in (1, 10, 20, 30)], "day string, v int"
    )
    wh.append("lab", "disc", df, batch_id="b0")
    # a {min,max} range over days 1 and 30 keeps everything in between...
    kept_range, total = wh.prune_files(
        "lab", "disc", {"day": ("2024-01-01", "2024-01-30")}
    )
    assert total == 4 and len(kept_range) == 4
    # ...the discrete set keeps exactly the named days
    kept_set, _ = wh.prune_files(
        "lab", "disc", {"day": ["2024-01-01", "2024-01-30"]}
    )
    days = sorted(p.split("day=")[1].split("/")[0] for p in kept_set)
    assert days == ["2024-01-01", "2024-01-30"]
    # read_pruned invariant holds for the set shape
    pred = F.col("day").isin("2024-01-01", "2024-01-30")
    full = {r.v for r in wh.read("lab", "disc").filter(pred).collect()}
    pruned = {
        r.v
        for r in wh.read_pruned(
            "lab", "disc", {"day": ["2024-01-01", "2024-01-30"]}
        )
        .filter(pred)
        .collect()
    }
    assert pruned == full == {1, 30}


def test_scoped_optimize_discrete_set_skips_cold_middle(spark, tmp_path):
    """One maintenance cycle touching day 1 and day 30 must not rewrite
    day 10/20 — the exact sparse-touch pattern ADVICE r6 flagged the
    (min, max) envelope amplifying."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "cold", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    days = ["2024-01-01", "2024-01-10", "2024-01-20", "2024-01-30"]
    for i in range(2):  # fragment every day across two generations
        df = wh.spark.createDataFrame(
            [(d, i * 100 + j) for d in days for j in range(3)],
            "day string, v int",
        )
        wh.append("lab", "cold", df, batch_id=f"b{i}")
    head = wh.head_snapshot("lab", "cold")
    cold_before = {
        e["path"]: e
        for e in head["files"]
        if e["partitions"]["day"] in ("2024-01-10", "2024-01-20")
    }
    assert cold_before
    rows_total = wh.read("lab", "cold").count()
    n_new = wh.optimize(
        "lab", "cold", partition_filter={"day": ["2024-01-01", "2024-01-30"]}
    )
    assert n_new >= 1
    head2 = wh.head_snapshot("lab", "cold")
    paths2 = {e["path"]: e for e in head2["files"]}
    # cold middle partitions: entries carried over verbatim, files untouched
    for p, e in cold_before.items():
        assert paths2[p] == e
        assert os.path.isfile(os.path.join(wh._tdir("lab", "cold"), p))
    # touched days were compacted (2 fragments -> 1 file each)
    for d in ("2024-01-01", "2024-01-30"):
        files_d = [p for p, e in paths2.items() if e["partitions"]["day"] == d]
        assert len(files_d) == 1 and "/compact_" in files_d[0]
    assert wh.read("lab", "cold").count() == rows_total


def test_pv_excluded_set_semantics():
    pe = ParquetWarehouse._pv_excluded
    assert pe("5", ["1", "5", "9"], None) is False  # member -> kept
    assert pe("5", ["1", "9"], None) is True  # non-member -> excluded
    assert pe("5", (None, None), None) is False  # open range keeps
    # numeric static type routes through the numeric comparison
    assert pe("10", [10], "int") is False
    assert pe("10", [2], "int") is True
