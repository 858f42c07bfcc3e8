"""Write-side rollback (VERDICT r10 "what's missing" #2 / next-round #1):
``rollback_to_snapshot``, the Trino-Iceberg recovery procedure after a
bad commit (the reference's connector ships it as
``CALL system.rollback_to_snapshot``).

Contracts pinned:
- rollback is METADATA-ONLY: the new head carries the target's segment
  refs / totals / pending MoR deletes verbatim, data files untouched,
  history preserved (the bad commits stay time-travelable);
- DuckDB-checked read-after-rollback round-trip over the manifest's
  exact file list;
- DDL is NOT reverted (Iceberg semantics): rollback across schema
  evolution keeps the current schema, old entries NULL-fill the new
  column; a restored pending key delete keeps applying after its key
  column was dropped;
- pending MoR deletes at the target become pending again (and ones
  committed after the target vanish — that is the point of rollback);
- the sequence counter stays MONOTONE across rollback: a delete
  committed after the rollback still out-sequences every restored entry;
- expiry interplay: files the rollback restored survive
  expire_snapshots because the new head references them; an EXPIRED
  target refuses with a clear error; tagged targets roll back by name;
- works on branches; tags refuse on branches;
- a CAS race retries onto the new head (rollback discards the commit
  that slid in — that is what the user asked for).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def rb_table(spark, tmp_path):
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        ParquetWarehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "rbt", "zstd", 1, properties={"snapshots": "true"})
    for i in range(3):  # v1..v3, 10 rows each
        wh.append(
            "lab", "rbt",
            spark.createDataFrame(
                [(i * 10 + j, f"b{i}") for j in range(10)],
                "id int, src string",
            ),
            batch_id=f"b{i}",
        )
    return wh


def _duckdb_rows(wh, schema, table):
    head = wh._materialize(schema, table, wh.head_snapshot(schema, table))
    tdir = wh._tdir(schema, table)
    files = [os.path.join(tdir, e["path"]) for e in head["files"]]
    con = duckdb.connect()
    rows = con.execute(
        "SELECT id, src FROM read_parquet($files) ORDER BY id",
        {"files": files},
    ).fetchall()
    con.close()
    return sorted((int(i), s) for i, s in rows)


def test_rollback_roundtrip_duckdb_checked(rb_table, spark):
    wh = rb_table
    assert wh.read("lab", "rbt").count() == 30
    out = wh.rollback_to_snapshot("lab", "rbt", 2)
    assert out["operation"] == "rollback"
    assert out["rolled_back_to"] == 2
    assert out["version"] == 4  # history moves FORWARD
    got = sorted((r.id, r.src) for r in wh.read("lab", "rbt").collect())
    assert len(got) == 20  # batch b2 gone
    assert got == _duckdb_rows(wh, "lab", "rbt")
    # history preserved: the abandoned v3 still time-travels
    assert wh.read_snapshot("lab", "rbt", 3).count() == 30
    ops = {h["version"]: h["operation"] for h in wh.history("lab", "rbt")}
    assert ops[4] == "rollback"
    # metadata-only: the restored head references v2's exact segments
    t = wh._load_head_light("lab", "rbt", 2)
    h = wh._load_head_light("lab", "rbt", 4)
    assert [r["path"] for r in h["segments"]] == [
        r["path"] for r in t["segments"]
    ]
    # writes continue on the restored timeline
    wh.append(
        "lab", "rbt",
        spark.createDataFrame([(900, "after")], "id int, src string"),
        batch_id="a0",
    )
    assert wh.read("lab", "rbt").count() == 21
    # a second rollback reaches further back on the same timeline
    wh.rollback_to_snapshot("lab", "rbt", 1)
    assert wh.read("lab", "rbt").count() == 10


def test_rollback_refusals(rb_table):
    wh = rb_table
    with pytest.raises(ValueError, match="EARLIER"):
        wh.rollback_to_snapshot("lab", "rbt", 3)  # == head
    with pytest.raises(ValueError, match="not retained"):
        wh.rollback_to_snapshot("lab", "rbt", 99)  # never existed
    with pytest.raises(ValueError, match="not retained"):
        wh.rollback_to_snapshot("lab", "rbt", 0)
    wh.expire_snapshots("lab", "rbt", keep_last=2)  # v1 expires
    with pytest.raises(ValueError, match="not retained"):
        wh.rollback_to_snapshot("lab", "rbt", 1)


def test_rollback_does_not_revert_ddl(rb_table, spark):
    """Iceberg semantics: the snapshot pointer moves, the schema stays.
    Old entries read NULL-filled under the post-DDL schema."""
    wh = rb_table
    wh.add_column("lab", "rbt", "note", "string")  # v4 (metadata-only)
    wh.append(
        "lab", "rbt",
        spark.createDataFrame(
            [(500, "b5", "hello")], "id int, src string, note string"
        ),
        batch_id="b5",
    )  # v5
    out = wh.rollback_to_snapshot("lab", "rbt", 2)  # before the DDL
    got = wh.read("lab", "rbt")
    assert got.columns == ["id", "src", "note"]  # schema NOT reverted
    assert got.count() == 20
    assert got.filter(F.col("note").isNotNull()).count() == 0
    head = wh._load_head_light("lab", "rbt", out["version"])
    assert head["schema_id"] == 1  # current schema id carried
    # appends after the rollback conform to the CURRENT schema
    wh.append(
        "lab", "rbt",
        spark.createDataFrame(
            [(600, "b6", "post")], "id int, src string, note string"
        ),
        batch_id="b6",
    )
    assert wh.read("lab", "rbt").filter(
        F.col("note") == "post"
    ).count() == 1


def test_rollback_restores_pending_mor_deletes(rb_table, spark):
    """Pending MoR deletes at the target become pending again; deletes
    committed AFTER the target vanish; the monotone seq counter keeps a
    post-rollback delete out-sequencing every restored entry."""
    wh = rb_table
    wh.delete_where("lab", "rbt", "id = 5", mode="merge-on-read")  # v4, pending
    assert wh.read("lab", "rbt").count() == 29
    wh.delete_where("lab", "rbt", "id = 6", mode="merge-on-read")  # v5, pending
    assert wh.read("lab", "rbt").count() == 28
    out = wh.rollback_to_snapshot("lab", "rbt", 4)  # restore: only id=5 gone
    got = wh.read("lab", "rbt")
    assert got.count() == 29
    assert got.filter(F.col("id") == 5).count() == 0  # still pending
    assert got.filter(F.col("id") == 6).count() == 1  # restored
    # monotone counter: the new delete out-sequences restored entries
    head = wh._load_head_light("lab", "rbt", out["version"])
    assert head["last_seq"] >= 5
    wh.delete_where("lab", "rbt", "id = 7", mode="merge-on-read")
    assert wh.read("lab", "rbt").filter(F.col("id") == 7).count() == 0
    # optimize folds the restored delete set like any pending delete
    wh.optimize("lab", "rbt")
    got = wh.read("lab", "rbt")
    assert got.count() == 28
    assert sorted(
        r.id for r in got.filter(F.col("id") < 10).collect()
    ) == [0, 1, 2, 3, 4, 6, 8, 9]


def test_rollback_restores_key_delete_after_key_column_drop(rb_table, spark):
    """A restored pending key delete names rows, not key values: rolling
    back to it after its key column was dropped restores it applying."""
    wh = rb_table
    wh.add_column("lab", "rbt", "tag", "string")
    wh.append(
        "lab", "rbt",
        spark.createDataFrame(
            [(700, "b7", "k1")], "id int, src string, tag string"
        ),
        batch_id="b7",
    )
    wh.delete_where("lab", "rbt", "tag = 'k1'", mode="merge-on-read")  # pending
    target_v = wh._latest_version("lab", "rbt")
    n = wh.read("lab", "rbt").count()
    wh.optimize("lab", "rbt")  # folds the delete
    wh.drop_column("lab", "rbt", "tag")
    wh.rollback_to_snapshot("lab", "rbt", target_v)
    assert len(wh.delete_files_report("lab", "rbt")) == 1
    got = wh.read("lab", "rbt")
    assert "tag" not in got.columns  # DDL is not reverted
    assert got.count() == n
    assert got.filter("id = 700").count() == 0
    assert wh.count_rows("lab", "rbt", fallback=False) == n


def test_rollback_expiry_and_tag_interplay(rb_table, spark):
    """Files the rollback restored survive expiry (the new head
    references them); tagged targets roll back by NAME."""
    wh = rb_table
    wh.create_tag("lab", "rbt", "good", version=2)
    wh.optimize("lab", "rbt")  # v4: rewrites the live set into new files
    wh.rollback_to_snapshot("lab", "rbt", "good")  # by tag name
    assert wh.read("lab", "rbt").count() == 20
    before = sorted(
        e["path"]
        for e in wh._materialize(
            "lab", "rbt", wh.head_snapshot("lab", "rbt")
        )["files"]
    )
    wh.expire_snapshots("lab", "rbt", keep_last=1)
    got = wh.read("lab", "rbt")
    assert got.count() == 20  # restored files survived the GC
    after = sorted(
        e["path"]
        for e in wh._materialize(
            "lab", "rbt", wh.head_snapshot("lab", "rbt")
        )["files"]
    )
    assert before == after
    tdir = wh._tdir("lab", "rbt")
    assert all(os.path.exists(os.path.join(tdir, p)) for p in after)
    assert got.toPandas()["id"].sort_values().tolist() == list(range(20))


def test_rollback_on_branch(rb_table, spark):
    wh = rb_table
    wh.create_branch("lab", "rbt", "wip")
    wh.append(
        "lab", "rbt",
        spark.createDataFrame([(800, "wip1")], "id int, src string"),
        batch_id="w1", branch="wip",
    )
    wh.append(
        "lab", "rbt",
        spark.createDataFrame([(801, "wip2")], "id int, src string"),
        batch_id="w2", branch="wip",
    )
    v_mid = wh._snapshot_versions("lab", "rbt", "wip")[-2]
    out = wh.rollback_to_snapshot("lab", "rbt", v_mid, branch="wip")
    assert out["rolled_back_to"] == v_mid
    got = wh.read("lab", "rbt", branch="wip")
    assert got.filter(F.col("id") == 800).count() == 1
    assert got.filter(F.col("id") == 801).count() == 0
    assert wh.read("lab", "rbt").count() == 30  # main untouched
    with pytest.raises(ValueError, match="main-namespace"):
        wh.rollback_to_snapshot("lab", "rbt", "good", branch="wip")
    # the branch (rollback included) still publishes
    wh.fast_forward("lab", "rbt", "wip")
    assert wh.read("lab", "rbt").count() == 31
