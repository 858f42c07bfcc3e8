"""Equality delete files (the second half of Iceberg v2 row-level
deletes, VERDICT r7 #1): ``delete_by_keys`` commits key VALUES with zero
data IO — no scan finds positions — and ``merge_upsert(mode=
'merge-on-read')`` turns CDC batches into O(batch) commits (new images +
one equality delete of the batch's keys), the Flink->Iceberg upsert
shape.

Contracts pinned here:

- ``delete_by_keys`` touches no data file and reads none (mtime +
  delete_bytes assertions); reads exclude exactly the keyed rows
  (DuckDB-checked);
- Iceberg sequence-number semantics (r09: per-entry commit ``seq``
  instead of explicit target lists): rows APPENDED AFTER the delete
  survive even under the same key;
- stacked MoR upsert batches linearize against a plain dict model and
  ``optimize()`` folds every delete away;
- the stored ``key_ranges`` summary narrows reads through manifest
  bounds (keys in one file's range hit one file); keys provably absent
  from every bound commit NOTHING;
- key columns resolve by FIELD ID through renames; dropping a pending
  delete's key column is refused until the delete is folded;
- position + equality deletes stack on the same file; time travel
  presents each snapshot under its own delete set; expiry GCs folded
  delete files;
- an equality delete committed CONCURRENTLY with a rewrite of its
  candidate files still applies (the rewrite's output carries a lower
  seq) — no row resurrects, no raise needed (the r08 target-list design
  had to abort here).
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


def _file_state(wh, schema, table):
    head = wh.head_snapshot(schema, table)
    tdir = wh._tdir(schema, table)
    return {
        e["path"]: os.stat(os.path.join(tdir, e["path"])).st_mtime_ns
        for e in head["files"]
    }


def test_delete_by_keys_zero_data_io(eq_table):
    wh = eq_table
    before = _file_state(wh, "lab", "eqt")
    assert len(before) == 6
    out = wh.delete_by_keys("lab", "eqt", [7, 31, 55], eq_cols=["id"])
    # the point of an equality delete: nothing was read, so the matched
    # count is unknown and every data file is byte-identical
    assert out["rows_deleted"] is None
    assert out["keys"] == 3
    assert out["delete_files_added"] == 1
    assert out["delete_bytes"] < 16 * 1024
    assert _file_state(wh, "lab", "eqt") == before
    got = wh.read("lab", "eqt")
    assert got.count() == 57
    assert got.filter(F.col("id").isin(7, 31, 55)).count() == 0
    (entry,) = wh.delete_files_report("lab", "eqt")
    assert entry["kind"] == "eq"
    assert entry["eq_cols"] == ["id"]
    assert entry["eq_ids"]  # field ids recorded for rename resolution
    assert entry["rows"] == 3


def test_delete_by_keys_matches_duckdb(eq_table):
    wh = eq_table
    files = wh._data_files("lab", "eqt")
    wh.delete_by_keys("lab", "eqt", [(1, 1), (22, 2)], eq_cols=["id", "k"])
    wh.delete_by_keys("lab", "eqt", [{"u": "u3"}])
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
    """Iceberg sequence-number semantics: an equality delete applies only
    to files OLDER than it — a re-append of the same key survives."""
    wh = eq_table
    wh.delete_by_keys("lab", "eqt", [10], eq_cols=["id"])
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


def test_key_ranges_narrow_by_bounds(eq_table):
    """The entry stores an O(keys) ``key_ranges`` summary (never a file
    list); reads narrow the anti-join to files whose bounds can hold the
    keys, and keys provably absent from every bound commit NOTHING."""
    wh = eq_table
    v0 = wh._latest_version("lab", "eqt")
    out = wh.delete_by_keys("lab", "eqt", [0], eq_cols=["id"])
    (entry,) = wh.delete_files_report("lab", "eqt")
    # no O(live-files) metadata anywhere: the entry carries the key
    # summary + its commit seq, nothing per-file
    assert "targets" not in entry
    assert entry["key_ranges"] == {"id": {"set": [0]}}
    assert entry["seq"] == out["version"]
    # id=0 lives in batch b0 (ids 0..19, two files) — bounds prune the
    # other two batches' files in the informational candidate count
    assert out["targets"] < 6
    assert out["files_pruned"] >= 4
    # and at READ time: narrowing keeps only bound-compatible files hot
    head = wh._head_light("lab", "eqt")
    meta = wh.table_meta("lab", "eqt")
    entries = wh._materialize("lab", "eqt", head)["files"]
    by_path = {e["path"]: e for e in entries}
    cand = {p for p, e in by_path.items() if e.get("seq", 0) < entry["seq"]}
    narrowed = wh._narrow_eq_targets(
        "lab", "eqt", meta, head, entry, cand, by_path
    )
    assert len(narrowed) == out["targets"]
    assert wh.read("lab", "eqt").count() == 59
    # keys provably absent: the manifest proof means NO commit
    out2 = wh.delete_by_keys("lab", "eqt", [10_000], eq_cols=["id"])
    assert out2["delete_files_added"] == 0
    assert wh._latest_version("lab", "eqt") == out["version"]
    assert out["version"] == v0 + 1


def test_rename_resolves_by_field_id(eq_table):
    wh = eq_table
    wh.delete_by_keys("lab", "eqt", [4, 44], eq_cols=["id"])
    wh.rename_column("lab", "eqt", "id", "doc_id")
    got = wh.read("lab", "eqt")
    assert got.count() == 58
    assert got.filter(F.col("doc_id").isin(4, 44)).count() == 0
    # and a NEW delete under the new name works against old files
    wh.delete_by_keys("lab", "eqt", [17], eq_cols=["doc_id"])
    assert wh.read("lab", "eqt").count() == 57


def test_drop_pending_eq_key_column_refused(eq_table):
    wh = eq_table
    wh.delete_by_keys("lab", "eqt", ["u2"], eq_cols=["u"])
    with pytest.raises(ValueError, match="equality delete"):
        wh.drop_column("lab", "eqt", "u")
    # an unrelated column still drops fine
    wh.drop_column("lab", "eqt", "k")
    # folding the delete unblocks the key column drop
    wh.optimize("lab", "eqt")
    wh.drop_column("lab", "eqt", "u")
    assert wh.read("lab", "eqt").columns == ["id"]
    assert wh.read("lab", "eqt").count() == 48  # 12 u2-rows deleted


def test_pos_and_eq_deletes_stack(eq_table):
    wh = eq_table
    wh.delete_where("lab", "eqt", "id = 8", mode="merge-on-read")
    wh.delete_by_keys("lab", "eqt", [9], eq_cols=["id"])
    wh.delete_where("lab", "eqt", "id = 10", mode="merge-on-read")
    got = wh.read("lab", "eqt")
    assert got.count() == 57
    assert got.filter(F.col("id").isin(8, 9, 10)).count() == 0
    kinds = sorted(d["kind"] for d in wh.delete_files_report("lab", "eqt"))
    assert kinds == ["eq", "pos", "pos"]


def test_time_travel_sees_own_delete_set(eq_table):
    wh = eq_table
    v0 = wh._latest_version("lab", "eqt")
    wh.delete_by_keys("lab", "eqt", [0, 1, 2], eq_cols=["id"])
    assert wh.read_snapshot("lab", "eqt", v0).count() == 60
    assert wh.read("lab", "eqt").count() == 57


def test_expiry_gcs_folded_delete_files(eq_table):
    wh = eq_table
    out = wh.delete_by_keys("lab", "eqt", [13], eq_cols=["id"])
    (entry,) = wh.delete_files_report("lab", "eqt")
    del_abs = os.path.join(wh._tdir("lab", "eqt"), entry["path"])
    assert os.path.exists(del_abs)
    wh.optimize("lab", "eqt")  # folds: head no longer references it
    wh.expire_snapshots("lab", "eqt", keep_last=1)
    assert not os.path.exists(del_abs)
    assert wh.read("lab", "eqt").count() == 59
    assert out["version"] is not None


def test_null_and_empty_keys(eq_table):
    wh = eq_table
    v = wh._latest_version("lab", "eqt")
    with pytest.raises(ValueError, match="NULL key"):
        wh.delete_by_keys("lab", "eqt", [3, None], eq_cols=["id"])
    assert wh.delete_by_keys("lab", "eqt", [], eq_cols=["id"])[
        "delete_files_added"
    ] == 0
    with pytest.raises(ValueError, match="no column"):
        wh.delete_by_keys("lab", "eqt", [1], eq_cols=["nope"])
    assert wh._latest_version("lab", "eqt") == v


def test_dataframe_keys(spark, eq_table):
    wh = eq_table
    keys = spark.createDataFrame([(2,), (2,), (41,)], "id int")
    out = wh.delete_by_keys("lab", "eqt", keys)
    assert out["keys"] == 2  # deduped
    assert wh.read("lab", "eqt").count() == 58
    with pytest.raises(ValueError, match="NULL key"):
        wh.delete_by_keys(
            "lab", "eqt", spark.createDataFrame([(None,)], "id int")
        )


def test_local_float_keys_cast_to_recorded_type(eq_table):
    """VERDICT r9 #4: LOCAL key lists must normalize through the recorded
    types BEFORE building prune ranges — the mirror of the ADVICE r8
    DataFrame-path fix.  Raw 19.5 for the int column falls BETWEEN every
    file's [lo,hi] bounds (b0 ends at 19, b1 starts at 20), so pre-fix
    the manifest 'proved' no file could match and the delete no-op'd —
    yet the read-side cast (19) matches a live row."""
    wh = eq_table
    out = wh.delete_by_keys("lab", "eqt", [19.5], eq_cols=["id"])
    assert out["delete_files_added"] == 1  # NOT pruned to a no-op
    got = wh.read("lab", "eqt")
    assert got.count() == 59
    assert got.filter(F.col("id") == 19).count() == 0
    # cast collisions dedup: 10 and 10.5 are ONE key after truncation
    out = wh.delete_by_keys("lab", "eqt", [10, 10.5], eq_cols=["id"])
    assert out["keys"] == 1
    assert wh.read("lab", "eqt").count() == 58
    # unrepresentable values raise, mirroring the DataFrame path's
    # ANSI-cast rejection — never silently mis-prune
    v = wh._latest_version("lab", "eqt")
    with pytest.raises(ValueError, match="not representable"):
        wh.delete_by_keys("lab", "eqt", [float("nan")], eq_cols=["id"])
    with pytest.raises(ValueError, match="not representable"):
        wh.delete_by_keys("lab", "eqt", ["abc"], eq_cols=["id"])
    with pytest.raises(ValueError, match="overflows"):
        wh.delete_by_keys("lab", "eqt", [2**40], eq_cols=["id"])
    assert wh._latest_version("lab", "eqt") == v
    # string columns: ints render as Spark cast would; floats are refused
    out = wh.delete_by_keys("lab", "eqt", ["u1"], eq_cols=["u"])
    assert wh.read("lab", "eqt").filter(F.col("u") == "u1").count() == 0
    with pytest.raises(ValueError, match="not representable"):
        wh.delete_by_keys("lab", "eqt", [1.5], eq_cols=["u"])


def test_concurrent_rewrite_does_not_lose_eq_delete(eq_table, spark):
    """Sequence scoping makes an eq delete race-proof against rewrites:
    a concurrent optimize() commits FIRST, its output files get a lower
    seq than the delete's commit, so the delete still applies to them —
    no row resurrects and no abort is needed (the r08 target-list design
    raised here, because its stored targets named only dead paths)."""
    wh = eq_table
    v_read = wh._latest_version("lab", "eqt")
    head = wh._load_head_light("lab", "eqt", v_read)
    kdf = spark.createDataFrame([(7,)], "id int")
    _root, del_entries = wh._write_eq_deletes(
        "lab", "eqt", kdf, ["id"], [1], {"id": {"set": [7]}}
    )
    # a concurrent optimize() folds every candidate into new files
    # BETWEEN this delete's read and its commit
    wh.optimize("lab", "eqt")
    manifest = wh.commit_snapshot(
        "lab", "eqt", "delete",
        add_files=[],
        add_deletes=del_entries,
        expected_schema_id=head.get("schema_id"),
    )
    assert manifest["version"] == v_read + 2
    got = wh.read("lab", "eqt")
    assert got.filter(F.col("id") == 7).count() == 0  # delete NOT lost
    assert got.count() == 59
    # a concurrent APPEND between read and commit also commits first ->
    # lower seq -> the delete applies to it too (commit-time semantics,
    # matching Iceberg's sequence rule)
    v2 = wh._latest_version("lab", "eqt")
    _root2, del2 = wh._write_eq_deletes(
        "lab", "eqt", spark.createDataFrame([(100,)], "id int"),
        ["id"], [1], {"id": {"set": [100]}},
    )
    wh.append(
        "lab", "eqt",
        spark.createDataFrame([(100, 0, "ux")], "id int, k int, u string"),
        batch_id="race",
    )
    manifest = wh.commit_snapshot(
        "lab", "eqt", "delete", add_files=[], add_deletes=del2,
    )
    assert manifest["version"] == v2 + 2
    assert wh.read("lab", "eqt").filter(F.col("id") == 100).count() == 0


def test_concurrent_rewrite_of_pos_targets_still_raises(eq_table):
    """Position deletes DO keep the conflicting-rewrite validation: their
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
    )
    _root, del_entries = wh._write_pos_deletes("lab", "eqt", tuples)
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
    """r15 explicit-schema delete reads (eq_types): a pending eq delete
    whose parquet stores the PRE-widen type must keep applying after
    update_column_type (the read passes the WRITE-time schema, then
    casts to the current type — never the other way around), and an
    entry with no eq_types (what a local-key write records for a key
    type without an unambiguous parquet mapping, e.g. a timestamp;
    stripped here) must fall back to the inference read with identical
    results."""
    wh = eq_table
    wh.delete_by_keys("lab", "eqt", [3, 41], eq_cols=["id"])
    head = wh.head_snapshot("lab", "eqt")
    dels = head.get("deletes", [])
    assert dels and dels[0].get("eq_types") == ["int"]  # recorded
    wh.update_column_type("lab", "eqt", "id", "bigint")
    got = {r["id"] for r in wh.read("lab", "eqt").collect()}
    assert 3 not in got and 41 not in got and len(got) == 58
    assert all(isinstance(i, int) for i in got)
    # strip eq_types from the delete segment -> inference read path
    import json as _json
    import os as _os

    changed = False
    for ref in wh._head_light("lab", "eqt")["delete_segments"]:
        sp = _os.path.join(wh._snap_dir("lab", "eqt"), ref["path"])
        with open(sp) as f:
            seg = _json.load(f)
        for d in seg["files"]:
            changed |= d.pop("eq_types", None) is not None
        with open(sp, "w") as f:
            _json.dump(seg, f)
    assert changed
    wh2 = ParquetWarehouse(spark, wh.root)  # fresh caches
    got2 = {r["id"] for r in wh2.read("lab", "eqt").collect()}
    assert got2 == got
