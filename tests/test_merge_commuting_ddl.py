"""Commuting-DDL branch merge (VERDICT r10 #5): branch-only schema DDL
over main-only data commits merges — main ADOPTS the branch's schema
evolution in one id-faithful metadata commit before the picks, so data
commits staged UNDER branch DDL land too.  Nessie merges commuting
changes; pre-r11 the repo refused every DDL divergence.

Contracts pinned:
- DDL methods take ``branch=`` (add/rename/drop/update_column_type
  stage on a named ref like any DML);
- commuting round-trip, DuckDB-checked over the manifest's exact file
  list (union_by_name across the two physical schemas);
- the adoption is idempotent (a crashed merge re-run adopts nothing);
- REAL conflicts still raise: schema DDL on both sides since the fork;
  a branch drop of the column main's pending key delete keyed on
  commutes (position deletes name rows, not key values);
- fast_forward at the fork still publishes branch DDL verbatim.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def md_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "mdt", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "mdt",
        spark.createDataFrame(
            [(j, f"b0") for j in range(10)], "id int, src string"
        ),
        batch_id="b0",
    )
    return wh


def test_commuting_merge_roundtrip_duckdb_checked(md_table, spark):
    wh = md_table
    wh.create_branch("lab", "mdt", "feat")
    # branch-side DDL through the API + data under the new schema
    wh.add_column("lab", "mdt", "score", "int", branch="feat")
    wh.append(
        "lab", "mdt",
        spark.createDataFrame(
            [(100, "staged", 7), (101, "staged", 8)],
            "id int, src string, score int",
        ),
        batch_id="s0", branch="feat",
    )
    # main-only data commits after the fork (old schema)
    wh.append(
        "lab", "mdt",
        spark.createDataFrame([(900, "mainline")], "id int, src string"),
        batch_id="m0",
    )
    with pytest.raises(RuntimeError, match="diverged"):
        wh.fast_forward("lab", "mdt", "feat")
    out = wh.merge_branch("lab", "mdt", "feat")
    assert out["strategy"] == "cherry_pick"
    assert out["schema_adopted"] is not None
    assert len(out["picked"]) == 1
    assert len(out["skipped_metadata_only"]) == 1  # the add_column commit
    got = wh.read("lab", "mdt")
    assert got.columns == ["id", "src", "score"]
    rows = sorted(
        (r.id, r.src, r.score) for r in got.collect()
    )
    assert len(rows) == 13
    assert (100, "staged", 7) in rows and (101, "staged", 8) in rows
    assert (900, "mainline", None) in rows
    # DuckDB over the manifest's EXACT file list (two physical schemas)
    head = wh._materialize("lab", "mdt", wh.head_snapshot("lab", "mdt"))
    tdir = wh._tdir("lab", "mdt")
    files = [os.path.join(tdir, e["path"]) for e in head["files"]]
    con = duckdb.connect()
    expected = con.execute(
        "SELECT id, src, score FROM read_parquet($files, "
        "union_by_name=true) ORDER BY id",
        {"files": files},
    ).fetchall()
    con.close()
    assert rows == sorted(
        (int(i), s, None if c is None else int(c)) for i, s, c in expected
    )
    # appends after the merge conform to the ADOPTED schema
    wh.append(
        "lab", "mdt",
        spark.createDataFrame(
            [(902, "after", 9)], "id int, src string, score int"
        ),
        batch_id="m1",
    )
    assert wh.read("lab", "mdt").filter(F.col("score") == 9).count() == 1
    # idempotent re-merge: nothing re-adopted, nothing re-picked
    out2 = wh.merge_branch("lab", "mdt", "feat")
    assert out2["schema_adopted"] is None
    assert out2["picked"] == []
    assert out2["already_published"]


def test_merge_refuses_ddl_on_both_sides(md_table, spark):
    wh = md_table
    wh.create_branch("lab", "mdt", "bd")
    wh.add_column("lab", "mdt", "score", "int", branch="bd")
    wh.append(
        "lab", "mdt",
        spark.createDataFrame(
            [(100, "staged", 7)], "id int, src string, score int"
        ),
        batch_id="s0", branch="bd",
    )
    wh.add_column("lab", "mdt", "other", "string")  # DDL on MAIN too
    with pytest.raises(RuntimeError, match="BOTH sides"):
        wh.merge_branch("lab", "mdt", "bd")
    # main untouched by the refused merge
    assert wh.read("lab", "mdt").count() == 10
    assert [f["name"] for f in wh.table_schema("lab", "mdt")] == [
        "id", "src", "other"
    ]


def test_merge_adopts_branch_drop_of_a_pending_delete_key(md_table, spark):
    wh = md_table
    wh.create_branch("lab", "mdt", "dk")
    wh.drop_column("lab", "mdt", "src", branch="dk")
    wh.append(
        "lab", "mdt",
        spark.createDataFrame([(100,)], "id int"),
        batch_id="s0", branch="dk",
    )
    # main data moves AND commits a MoR delete on the dropped column
    wh.append(
        "lab", "mdt",
        spark.createDataFrame([(900, "mainline")], "id int, src string"),
        batch_id="m0",
    )
    wh.delete_where("lab", "mdt", "src = 'b0'", mode="merge-on-read")
    out = wh.merge_branch("lab", "mdt", "dk")
    assert out["schema_adopted"] is not None
    got = wh.read("lab", "mdt")
    assert got.columns == ["id"]
    # the pending delete keeps hiding the 10 b0 rows; mainline + staged
    assert got.count() == 2
    assert wh.count_rows("lab", "mdt", fallback=False) == 2


def test_branch_ddl_fast_forward_at_fork(md_table, spark):
    """main NOT moved: fast_forward publishes branch DDL verbatim (the
    pre-existing path — pinned here against regressions)."""
    wh = md_table
    wh.create_branch("lab", "mdt", "ff")
    wh.rename_column("lab", "mdt", "src", "origin", branch="ff")
    out = wh.merge_branch("lab", "mdt", "ff")
    assert out["strategy"] == "fast_forward"
    assert [f["name"] for f in wh.table_schema("lab", "mdt")] == [
        "id", "origin"
    ]
    assert wh.read("lab", "mdt").columns == ["id", "origin"]
