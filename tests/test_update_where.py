"""Row-level UPDATE (``update_where``) — the last leg of the DML triad
next to ``merge_upsert`` and ``delete_where``.  Contracts: victim
selection and pruning are delete_where's (cold files untouched and
unopened), assignments cast to the recorded type, NULL conditions leave
rows alone, partition-source updates MOVE rows to their new partitions
(transform columns re-derive), and time travel still reads pre-update
values.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


def test_update_where_basic(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "u", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "u",
        spark.createDataFrame(
            [(i, i * 10, "keep") for i in range(10)], "id int, v int, s string"
        ).coalesce(1),
        batch_id="b0",
    )
    v_before = wh.head_snapshot("lab", "u")["version"]
    out = wh.update_where(
        "lab", "u", "id >= 7", {"v": "v + 1000", "s": "'bumped'"}
    )
    assert out["rows_matched"] == 3 and out["files_rewritten"] == 1
    got = sorted((r.id, r.v, r.s) for r in wh.read("lab", "u").collect())
    assert got == [
        *[(i, i * 10, "keep") for i in range(7)],
        *[(i, i * 10 + 1000, "bumped") for i in range(7, 10)],
    ]
    assert wh.head_snapshot("lab", "u")["operation"] == "update"
    # time travel: pre-update snapshot unchanged
    old = wh.read_snapshot("lab", "u", v_before)
    assert {r.v for r in old.filter(F.col("id") == 9).collect()} == {90}


def test_update_prunes_cold_files_unopened(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq_mod

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "up", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    wh.append(
        "lab", "up",
        spark.createDataFrame(
            [(d, j) for d in days for j in range(4)], "day string, v int"
        ).coalesce(1),
        batch_id="b0",
    )
    head = wh.head_snapshot("lab", "up")
    cold = {
        e["path"]: e for e in head["files"]
        if e["partitions"]["day"] != "2024-01-02"
    }
    real = pq_mod.ParquetFile
    opened: list[str] = []

    def counting(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "ParquetFile", counting)
    out = wh.update_where(
        "lab", "up", "day = '2024-01-02'", {"v": "v * 100"}
    )
    assert out["files_rewritten"] == 1 and out["files_kept"] == 2
    assert out["rows_matched"] == 4
    assert not [p for p in opened if any(c in p for c in cold)]
    head2 = wh.head_snapshot("lab", "up")
    paths2 = {e["path"]: e for e in head2["files"]}
    for p, e in cold.items():
        assert paths2[p] == e
    got = sorted(
        r.v for r in wh.read("lab", "up").filter(F.col("day") == "2024-01-02").collect()
    )
    assert got == [0, 100, 200, 300]


def test_update_moves_rows_across_partitions(spark, tmp_path):
    """Updating an identity partition source relocates the rows' hive
    dirs; updating a days() source re-derives the transform column."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "mv", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    wh.append(
        "lab", "mv",
        spark.createDataFrame(
            [("2024-01-01", 1), ("2024-01-02", 2)], "day string, v int"
        ).coalesce(1),
        batch_id="b0",
    )
    wh.update_where("lab", "mv", "v = 1", {"day": "'2024-02-15'"})
    head = wh.head_snapshot("lab", "mv")
    days_on_disk = {e["partitions"]["day"] for e in head["files"]}
    assert days_on_disk == {"2024-02-15", "2024-01-02"}
    got = sorted((r.day, r.v) for r in wh.read("lab", "mv").collect())
    assert got == [("2024-01-02", 2), ("2024-02-15", 1)]

    # days() transform: update the SOURCE timestamp, ts_day re-derives
    wh.create_table(
        "lab", "mv2", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["days(ts)"],
    )
    wh.append(
        "lab", "mv2",
        spark.createDataFrame(
            [(1, "2024-01-01 10:00:00")], "id int, ts string"
        ).withColumn("ts", F.to_timestamp("ts")),
        batch_id="b0",
    )
    wh.update_where(
        "lab", "mv2", "id = 1", {"ts": "timestamp'2024-03-03 09:00:00'"}
    )
    head2 = wh.head_snapshot("lab", "mv2")
    assert {e["partitions"]["ts_day"] for e in head2["files"]} == {"2024-03-03"}
    row = wh.read("lab", "mv2").collect()[0]
    assert str(row.ts_day) == "2024-03-03"
    # assigning to the derived column directly is refused
    with pytest.raises(ValueError, match="derived partition column"):
        wh.update_where("lab", "mv2", "id = 1", {"ts_day": "'2024-01-01'"})


def test_update_evaluates_against_original_rows(spark, tmp_path):
    """SQL UPDATE semantics (review-found bug): the condition and ALL
    assignment expressions bind to the PRE-update row.  A swap works, and
    an assignment reading a column the condition names still fires even
    when another assignment changes that column."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "sw", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "sw",
        spark.createDataFrame([(1, 5), (9, 9)], "a int, b int").coalesce(1),
        batch_id="b0",
    )
    # the confirmed failure: condition on 'a' while assigning 'a' AND
    # deriving 'b' from the original 'a'
    out = wh.update_where("lab", "sw", "a = 1", {"a": "2", "b": "a + 10"})
    assert out["rows_matched"] == 1
    got = sorted((r.a, r.b) for r in wh.read("lab", "sw").collect())
    assert got == [(2, 11), (9, 9)]  # b = ORIGINAL a + 10, not 2 + 10
    # a swap: both sides read originals
    wh.update_where("lab", "sw", "a = 2", {"a": "b", "b": "a"})
    got2 = sorted((r.a, r.b) for r in wh.read("lab", "sw").collect())
    assert got2 == [(9, 9), (11, 2)]


def test_update_zero_matches_is_a_noop(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "z", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "z",
        spark.createDataFrame([(1, 5)], "id int, v int").coalesce(1),
        batch_id="b0",
    )
    v = wh.head_snapshot("lab", "z")["version"]
    out = wh.update_where("lab", "z", "id = 999", {"v": "0"})
    assert out["rows_matched"] == 0 and out["files_rewritten"] == 0
    # no snapshot churn: same head, data untouched
    assert wh.head_snapshot("lab", "z")["version"] == v


def test_update_null_condition_leaves_row(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "un", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "un",
        spark.createDataFrame([(1, 5), (2, None)], "id int, v int").coalesce(1),
        batch_id="b0",
    )
    out = wh.update_where("lab", "un", "v > 0", {"id": "id + 100"})
    assert out["rows_matched"] == 1
    assert sorted(r.id for r in wh.read("lab", "un").collect()) == [2, 101]


def test_update_casts_to_recorded_type_and_guards(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "uc", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "uc",
        spark.createDataFrame([(1, 5)], "id int, v int").coalesce(1),
        batch_id="b0",
    )
    # double-valued expression casts back to the recorded int type
    wh.update_where("lab", "uc", "id = 1", {"v": "v * 2.5"})
    assert dict(wh.read("lab", "uc").dtypes)["v"] == "int"
    assert wh.read("lab", "uc").collect()[0].v == 12  # 12.5 cast-truncates
    with pytest.raises(ValueError, match="no column"):
        wh.update_where("lab", "uc", "id = 1", {"ghost": "1"})


# --- DML x schema evolution (VERDICT r7 #3) -------------------------------


def test_update_on_evolved_table_spanning_sids(spark, tmp_path):
    """UPDATE with condition AND assignment naming a RENAMED column over
    victims from two schema generations; DuckDB checks the post-DML
    evolved read."""
    import duckdb

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "uevo", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "uevo",
        spark.createDataFrame([(i, i * 10) for i in range(10)], "id int, v int"),
        batch_id="b0",
    )
    files_b0 = wh._data_files("lab", "uevo")
    wh.rename_column("lab", "uevo", "v", "val")
    wh.append(
        "lab", "uevo",
        spark.createDataFrame(
            [(100 + i, i * 10) for i in range(10)], "id int, val int"
        ),
        batch_id="b1",
    )
    files_b1 = sorted(set(wh._data_files("lab", "uevo")) - set(files_b0))
    out = wh.update_where("lab", "uevo", "val >= 50", {"val": "val + 1"})
    assert out["rows_matched"] == 10
    con = duckdb.connect()
    expected = con.execute(
        "SELECT id, CASE WHEN v >= 50 THEN v + 1 ELSE v END AS val "
        "FROM read_parquet($b0) UNION ALL "
        "SELECT id, CASE WHEN val >= 50 THEN val + 1 ELSE val END AS val "
        "FROM read_parquet($b1) ORDER BY id",
        {"b0": files_b0, "b1": files_b1},
    ).fetchall()
    got = sorted((r.id, r.val) for r in wh.read("lab", "uevo").collect())
    assert got == [tuple(r) for r in expected]
    # rewritten files carry the CURRENT schema id
    head = wh.head_snapshot("lab", "uevo")
    new_entries = [e for e in head["files"] if "update_" in e["path"]]
    assert new_entries and all(
        e.get("sid") == head["schema_id"] for e in new_entries
    )
