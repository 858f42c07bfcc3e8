"""Position deletes: a merge-on-read ``delete_where`` or a merge-on-read
``merge_upsert`` (tombstones through ``delete_col``, or replaced keys)
finds the live rows it names and commits ONE position-delete file of
them — the shape of Spark's Iceberg ``MERGE INTO`` in merge-on-read mode.
Position deletes are the only row-level delete.

Contracts pinned here:

- a key delete rewrites no data file, records exact
  ``rows_deleted``/``target_counts``, and reads exclude exactly the keyed
  rows (DuckDB-checked); ``count_rows`` stays metadata-only;
- rows APPENDED AFTER a delete survive even under the same key;
- stacked MoR upsert batches linearize against a plain dict model and
  ``optimize()`` folds every delete away;
- the keys prune the victim scan through manifest bounds (keys in one
  file's range scan one file); keys provably absent from every bound
  commit NOTHING;
- deletes survive renames, drops and widenings of the key column;
- a commit landing between a MoR upsert's head capture and its publish
  makes the upsert raise, and a retry applies the batch exactly once; a
  position delete whose targets a concurrent commit rewrote raises.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def eq_table(spark, tmp_path):
    """3 appends x 2 files = 6 data files, 60 rows, id 0..59."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "eqt", "zstd", 1, properties={"snapshots": "true"})
    for i in range(3):
        df = spark.createDataFrame(
            [(i * 20 + j, j % 4, f"u{j % 5}") for j in range(20)],
            "id int, k int, u string",
        ).repartition(2)
        wh.append("lab", "eqt", df, batch_id=f"b{i}")
    return wh


def _delete_ids(spark, wh, ids, table="eqt"):
    """Merge-on-read delete by key: an upsert batch of tombstones only."""
    return wh.merge_upsert(
        "lab", table,
        spark.createDataFrame(
            [(i, None, None, True) for i in ids],
            "id int, k int, u string, dead boolean",
        ),
        ["id"], delete_col="dead", mode="merge-on-read",
    )


def _file_state(wh, schema, table):
    head = wh.head_snapshot(schema, table)
    tdir = wh._tdir(schema, table)
    return {
        e["path"]: os.stat(os.path.join(tdir, e["path"])).st_mtime_ns
        for e in head["files"]
    }


def test_key_delete_writes_one_position_delete(spark, eq_table):
    wh = eq_table
    before = _file_state(wh, "lab", "eqt")
    assert len(before) == 6
    out = _delete_ids(spark, wh, [7, 31, 55])
    # the victim scan counted the rows, and no data file was rewritten
    assert out["rows_deleted"] == 3
    assert out["deletes"] == 3
    assert out["files_added"] == 0
    assert out["delete_files_added"] == 1
    assert out["delete_bytes"] < 16 * 1024
    assert _file_state(wh, "lab", "eqt") == before
    got = wh.read("lab", "eqt")
    assert got.count() == 57
    assert got.filter(F.col("id").isin(7, 31, 55)).count() == 0
    (entry,) = wh.delete_files_report("lab", "eqt")
    assert entry["kind"] == "pos"
    assert entry["rows"] == 3
    assert sum(entry["target_counts"].values()) == 3
    assert entry["rv_seq"] == out["version"] - 1
    assert wh.count_rows("lab", "eqt", fallback=False) == 57


def test_key_deletes_match_duckdb(spark, eq_table):
    wh = eq_table
    files = wh._data_files("lab", "eqt")
    wh.merge_upsert(
        "lab", "eqt",
        spark.createDataFrame(
            [(1, 1, None, True), (22, 2, None, True)],
            "id int, k int, u string, dead boolean",
        ),
        ["id", "k"], delete_col="dead", mode="merge-on-read",
    )
    wh.delete_where("lab", "eqt", "u = 'u3'", mode="merge-on-read")
    con = duckdb.connect()
    expected = con.execute(
        "SELECT id, k, u FROM read_parquet($files) "
        "WHERE NOT ((id, k) IN ((1, 1), (22, 2))) AND u <> 'u3' "
        "ORDER BY id",
        {"files": files},
    ).fetchall()
    got = sorted((r.id, r.k, r.u) for r in wh.read("lab", "eqt").collect())
    assert got == [tuple(r) for r in expected]


def test_later_appends_survive_the_delete(spark, eq_table):
    """A key delete names the rows live when it scanned — a re-append of
    the same key afterwards survives."""
    wh = eq_table
    _delete_ids(spark, wh, [10])
    assert wh.read("lab", "eqt").filter(F.col("id") == 10).count() == 0
    wh.append(
        "lab", "eqt",
        spark.createDataFrame([(10, 99, "unew")], "id int, k int, u string"),
        batch_id="b_re",
    )
    rows = wh.read("lab", "eqt").filter(F.col("id") == 10).collect()
    assert len(rows) == 1
    assert rows[0].u == "unew"  # the NEW row, not the deleted one


def test_mor_upsert_batches_linearize(spark, tmp_path):
    """Stacked merge-on-read upsert batches against a plain dict model,
    then optimize() folds every delete away and reads stay identical."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "cdc", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "cdc",
        spark.createDataFrame(
            [(i, f"v0_{i}", False) for i in range(20)],
            "id int, val string, dead boolean",
        ).drop("dead"),
        batch_id="seed",
    )
    model = {i: f"v0_{i}" for i in range(20)}
    batches = [
        [(5, "v1_5", False), (21, "v1_21", False), (3, None, True)],
        [(5, "v2_5", False), (3, "v2_3", False), (21, None, True)],
        [(0, None, True), (22, "v3_22", False), (5, "v3_5", False)],
    ]
    for n, batch in enumerate(batches):
        out = wh.merge_upsert(
            "lab", "cdc",
            spark.createDataFrame(batch, "id int, val string, dead boolean"),
            ["id"],
            delete_col="dead",
            mode="merge-on-read",
        )
        assert out["mode"] == "merge-on-read"
        assert out["delete_files_added"] == 1
        for i, v, dead in batch:
            if dead:
                model.pop(i, None)
            else:
                model[i] = v

    def snapshot():
        return {r.id: r.val for r in wh.read("lab", "cdc").collect()}

    assert snapshot() == model
    assert len(wh.delete_files_report("lab", "cdc")) == 3
    wh.optimize("lab", "cdc")
    assert wh.delete_files_report("lab", "cdc") == []
    assert snapshot() == model


def test_key_ranges_narrow_by_bounds(spark, eq_table):
    """The keys prune the victim scan through manifest bounds: the one
    position-delete entry targets only the file holding the key, and
    keys provably absent from every bound commit NOTHING."""
    wh = eq_table
    v0 = wh._latest_version("lab", "eqt")
    out = _delete_ids(spark, wh, [0])
    (entry,) = wh.delete_files_report("lab", "eqt")
    assert entry["kind"] == "pos"
    assert entry["seq"] == out["version"]
    # id=0 lives in batch b0 (ids 0..19, two files) — bounds prune the
    # other two batches' files before any footer is opened
    assert out["targets"] <= 2
    tdir = wh._tdir("lab", "eqt")
    (target,) = entry["targets"]
    assert entry["target_counts"] == {target: 1}
    assert 0 in {
        r["id"]
        for r in wh.spark.read.parquet(os.path.join(tdir, target)).collect()
    }
    assert wh.read("lab", "eqt").count() == 59
    # keys provably absent: the manifest proof means NO commit
    out2 = _delete_ids(spark, wh, [10_000])
    assert out2["delete_files_added"] == 0
    assert wh._latest_version("lab", "eqt") == out["version"]
    assert out["version"] == v0 + 1


def test_rename_resolves_by_field_id(eq_table):
    wh = eq_table
    wh.delete_where("lab", "eqt", "id IN (4, 44)", mode="merge-on-read")
    wh.rename_column("lab", "eqt", "id", "doc_id")
    got = wh.read("lab", "eqt")
    assert got.count() == 58
    assert got.filter(F.col("doc_id").isin(4, 44)).count() == 0
    # and a NEW delete under the new name works against old files
    wh.delete_where("lab", "eqt", "doc_id = 17", mode="merge-on-read")
    assert wh.read("lab", "eqt").count() == 57


def test_drop_key_column_with_pending_key_delete(eq_table):
    """A position delete names rows, not key values: dropping the key
    column of a pending key delete is allowed and the delete keeps
    applying."""
    wh = eq_table
    wh.delete_where("lab", "eqt", "u = 'u2'", mode="merge-on-read")
    wh.drop_column("lab", "eqt", "k")
    wh.drop_column("lab", "eqt", "u")
    assert wh.read("lab", "eqt").columns == ["id"]
    assert wh.read("lab", "eqt").count() == 48  # 12 u2-rows deleted
    assert wh.count_rows("lab", "eqt", fallback=False) == 48
    wh.optimize("lab", "eqt")
    assert wh.delete_files_report("lab", "eqt") == []
    assert wh.read("lab", "eqt").count() == 48


def test_key_and_condition_deletes_stack(spark, eq_table):
    wh = eq_table
    wh.delete_where("lab", "eqt", "id = 8", mode="merge-on-read")
    _delete_ids(spark, wh, [9, 8])
    wh.delete_where("lab", "eqt", "id = 10", mode="merge-on-read")
    got = wh.read("lab", "eqt")
    assert got.count() == 57
    assert got.filter(F.col("id").isin(8, 9, 10)).count() == 0
    dels = wh.delete_files_report("lab", "eqt")
    assert [d["kind"] for d in dels] == ["pos", "pos", "pos"]
    # id 8 was already deleted: the key delete's scan skipped it
    assert [d["rows"] for d in dels] == [1, 1, 1]
    assert wh.count_rows("lab", "eqt", fallback=False) == 57


def test_time_travel_sees_own_delete_set(eq_table):
    wh = eq_table
    v0 = wh._latest_version("lab", "eqt")
    wh.delete_where("lab", "eqt", "id IN (0, 1, 2)", mode="merge-on-read")
    assert wh.read_snapshot("lab", "eqt", v0).count() == 60
    assert wh.read("lab", "eqt").count() == 57


def test_expiry_gcs_folded_delete_files(eq_table):
    wh = eq_table
    out = wh.delete_where("lab", "eqt", "id = 13", mode="merge-on-read")
    (entry,) = wh.delete_files_report("lab", "eqt")
    del_abs = os.path.join(wh._tdir("lab", "eqt"), entry["path"])
    assert os.path.exists(del_abs)
    wh.optimize("lab", "eqt")  # folds: head no longer references it
    wh.expire_snapshots("lab", "eqt", keep_last=1)
    assert not os.path.exists(del_abs)
    assert wh.read("lab", "eqt").count() == 59
    assert out["version"] is not None


def test_concurrent_commit_fails_mor_upsert_then_retry_applies_once(
    eq_table, spark, monkeypatch
):
    """A merge-on-read upsert's victims are positions in the files of the
    head it captured, so its commit is fenced by ``expected_parent``: a
    commit landing between the capture and the publish — a rewrite that
    moves the victims, or an append that adds a row under a batch key —
    makes the upsert raise and leaves no trace.  A retry from the new
    head then leaves exactly one live row per key."""
    wh = eq_table
    real = ParquetWarehouse._key_victims
    racers = [
        lambda: wh.optimize("lab", "eqt"),
        lambda: wh.append(
            "lab", "eqt",
            spark.createDataFrame([(100, 0, "race")], "id int, k int, u string"),
            batch_id="race",
        ),
    ]
    race = []

    def racing(self, *a, **k):
        out = real(self, *a, **k)
        if race:
            race.pop()()  # lands after the head capture, before the publish
        return out

    monkeypatch.setattr(ParquetWarehouse, "_key_victims", racing)

    def batch():
        return spark.createDataFrame(
            [(7, 9, "new"), (31, 9, "new"), (100, 9, "new")],
            "id int, k int, u string",
        )

    for racer in racers:
        race.append(racer)
        v0 = wh._latest_version("lab", "eqt")
        dels0 = wh.delete_files_report("lab", "eqt")
        with pytest.raises(RuntimeError, match="concurrent commit conflict"):
            wh.merge_upsert("lab", "eqt", batch(), ["id"], mode="merge-on-read")
        assert not race
        assert wh._latest_version("lab", "eqt") == v0 + 1  # the racer only
        assert wh.delete_files_report("lab", "eqt") == dels0
    out = wh.merge_upsert("lab", "eqt", batch(), ["id"], mode="merge-on-read")
    assert out["rows_deleted"] == 3  # ids 7, 31 and the raced-in 100
    rows = wh.read("lab", "eqt").collect()
    ids = [r.id for r in rows]
    assert len(ids) == len(set(ids)) == 61
    assert {r.id: r.u for r in rows if r.id in (7, 31, 100)} == {
        7: "new", 31: "new", 100: "new",
    }
    assert wh.count_rows("lab", "eqt", fallback=False) == 61


def test_concurrent_rewrite_of_pos_targets_still_raises(eq_table):
    """Position deletes keep the conflicting-rewrite validation: their
    tuples name (file, ordinal) of specific paths, so a concurrent
    rewrite of those paths must abort the delete commit."""
    wh = eq_table
    v_read = wh._latest_version("lab", "eqt")
    head = wh._load_snapshot("lab", "eqt", v_read)
    meta = wh.table_meta("lab", "eqt")
    df = wh._read_entries(
        "lab", "eqt", meta, head, head["files"], with_pos=True
    )
    tuples = df.filter(F.col("id") == 7).select(
        F.col(wh._POS_REL).alias("file_path"),
        F.col(wh._POS_IDX).alias("pos"),
    ).toArrow()
    _root, del_entries = wh._write_pos_deletes(
        "lab", "eqt", tuples, head["last_seq"]
    )
    wh.optimize("lab", "eqt")  # rewrites every targeted file
    with pytest.raises(RuntimeError, match="rewritten between read and commit"):
        wh.commit_snapshot(
            "lab", "eqt", "delete",
            add_files=[],
            add_deletes=del_entries,
            deletes_read_version=v_read,
        )


def test_widen_after_pending_delete_and_legacy_entries_still_apply(
    spark, eq_table
):
    """A key delete pending across ``update_column_type`` keeps applying,
    and a key delete after the widening matches the legacy file entries
    still stored at the narrow type (the driver-side scan casts them up)
    as well as rows written at the wide type."""
    wh = eq_table
    _delete_ids(spark, wh, [3, 41])
    wh.update_column_type("lab", "eqt", "id", "bigint")
    got = {r["id"] for r in wh.read("lab", "eqt").collect()}
    assert 3 not in got and 41 not in got and len(got) == 58
    wh.append(
        "lab", "eqt",
        spark.createDataFrame([(2**40, 0, "wide")], "id bigint, k int, u string"),
        batch_id="wide",
    )
    out = wh.merge_upsert(
        "lab", "eqt",
        spark.createDataFrame(
            [(5, None, None, True), (2**40, None, None, True)],
            "id bigint, k int, u string, dead boolean",
        ),
        ["id"], delete_col="dead", mode="merge-on-read",
    )
    assert out["rows_deleted"] == 2
    got = {r["id"] for r in wh.read("lab", "eqt").collect()}
    assert got == set(range(60)) - {3, 5, 41}
    assert wh.count_rows("lab", "eqt", fallback=False) == 57
