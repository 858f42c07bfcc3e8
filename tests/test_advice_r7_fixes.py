"""Round-8 fixes for ADVICE r7 + VERDICT r7 minor findings:

- ``_pv_definitely_satisfies`` rejects MIXED-TYPE IN lists (ADVICE r7
  medium): SQL coerces the whole list to one type, so ``strcol IN
  ('a', 5)`` evaluates under numeric coercion ('a' -> NULL keeps the
  row in non-ANSI, CAST error in ANSI) — a string member match is not a
  row-level proof and the metadata-only delete path must fall through
  to the rewrite (which evaluates the real predicate).
- Delta rewrites (delete_where / update_where / scoped optimize) carry
  an ``expected_schema_id`` fence into ``commit_snapshot`` (ADVICE r7
  medium): a concurrent DDL between the rewrite's read and its CAS
  publish now RAISES instead of stamping old-name files with the
  post-rename schema id (which would silently NULL-fill on read).
- ``tags()`` skips a tag file deleted by a concurrent ``drop_tag``
  between listdir and open (ADVICE r7 low).
- ``update_where(count_matched=False)`` keeps the zero-match no-op
  guard via a ``limit(1)`` existence probe (VERDICT r7 what's-wrong
  #1): a no-match update leaves the version untouched instead of
  rewriting every victim and invalidating incremental-scan windows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


# --- mixed-type IN lists are not a metadata-delete proof ------------------


def test_pv_definitely_satisfies_rejects_mixed_in_list():
    sat = ParquetWarehouse._pv_definitely_satisfies
    # the reported hazard: string pv matches a string member of a list
    # SQL would coerce numerically
    assert sat("a", ["a", 5]) is False
    assert sat("5", ["a", 5]) is False
    # homogeneous lists remain row-level proofs
    assert sat("a", ["a", "b"]) is True
    assert sat("5", [5, 6]) is True
    assert sat("c", ["a", "b"]) is False
    # bools never qualify, and don't poison an otherwise-string list
    assert sat("a", ["a", True]) is True


def test_mixed_in_list_delete_falls_through_to_rewrite(spark, tmp_path):
    """DELETE with a mixed-type IN list over a string partition column
    must match Spark's own predicate semantics — ANSI mode (Spark 4
    default) raises CAST_INVALID_INPUT, non-ANSI coerces to NULL and
    keeps the rows.  Either way the string-matching partition must NOT
    be dropped metadata-only: pre-fix, ``k IN ('a', 5)`` over an
    all-'a' partition committed a silent wholesale drop of rows SQL
    would keep (or refuse to evaluate)."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "mixed", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["k"],
    )
    df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    wh.append("lab", "mixed", df, batch_id="b0")
    cond = "k IN ('a', 5)"
    try:
        wh.read("lab", "mixed").filter(
            ~F.coalesce(F.expr(cond), F.lit(False))
        ).collect()
        spark_errors = False
    except Exception:
        spark_errors = True  # ANSI: the cast of 'a' to a number raises
    if spark_errors:
        with pytest.raises(Exception):
            wh.delete_where("lab", "mixed", cond)
    else:
        out = wh.delete_where("lab", "mixed", cond)
        assert out.get("files_dropped_outright", 0) == 0
        assert out["rows_deleted"] == 0
    # the rows SQL keeps (or errors on) are still there
    got = sorted((r.k, r.v) for r in wh.read("lab", "mixed").collect())
    assert got == [("a", 1), ("a", 2)]
    # control: a homogeneous string IN list still proves row-level match
    # and drops the partition metadata-only (zero files rewritten)
    out2 = wh.delete_where("lab", "mixed", "k IN ('a')")
    assert out2["files_dropped_outright"] >= 1
    assert out2["files_rewritten"] == 0
    assert wh.read("lab", "mixed").count() == 0


# --- concurrent-DDL fence on delta rewrites -------------------------------


@pytest.fixture()
def fence_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "fence", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "fence",
        spark.createDataFrame(
            [(i, i % 3, i * 10) for i in range(30)], "id int, k int, v int"
        ),
        batch_id="b0",
    )
    return wh


def _ddl_mid_rewrite(monkeypatch, rename=("v", "val")):
    """Arm a one-shot hook: the first _read_entries of a DML rewrite
    triggers a rename_column — the exact read-to-publish window the
    fence protects."""
    orig = ParquetWarehouse._read_entries
    state = {"fired": False}

    def hook(self, schema, table, meta, head, entries, **kw):
        if not state["fired"]:
            state["fired"] = True
            self.rename_column(schema, table, *rename)
        return orig(self, schema, table, meta, head, entries, **kw)

    monkeypatch.setattr(ParquetWarehouse, "_read_entries", hook)


def test_delete_where_raises_on_concurrent_ddl(fence_table, monkeypatch):
    _ddl_mid_rewrite(monkeypatch)
    with pytest.raises(RuntimeError, match="concurrent schema change"):
        fence_table.delete_where("lab", "fence", "k = 1")
    # the rename won; the data is intact under the new schema
    df = fence_table.read("lab", "fence")
    assert "val" in df.columns and df.count() == 30


def test_update_where_raises_on_concurrent_ddl(fence_table, monkeypatch):
    _ddl_mid_rewrite(monkeypatch)
    with pytest.raises(RuntimeError, match="concurrent schema change"):
        fence_table.update_where("lab", "fence", "k = 1", {"k": "9"})
    assert fence_table.read("lab", "fence").count() == 30


def test_scoped_optimize_raises_on_concurrent_ddl(spark, tmp_path, monkeypatch):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "sco", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    for i in range(2):
        wh.append(
            "lab", "sco",
            spark.createDataFrame(
                [("2024-01-01", i * 10 + j) for j in range(5)],
                "day string, v int",
            ),
            batch_id=f"b{i}",
        )
    _ddl_mid_rewrite(monkeypatch)
    with pytest.raises(RuntimeError, match="concurrent schema change"):
        wh.optimize("lab", "sco", partition_filter={"day": ["2024-01-01"]})


# --- tags() vs concurrent drop_tag ----------------------------------------


def test_tags_skip_concurrently_dropped_tag(spark, tmp_path, monkeypatch):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "tt", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "tt", spark.createDataFrame([(1,)], "id int"), batch_id="b0"
    )
    wh.create_tag("lab", "tt", "real", version=1)
    snap_dir = wh._snap_dir("lab", "tt")
    real_listdir = os.listdir

    def phantom_listdir(d):
        names = real_listdir(d)
        if os.path.abspath(d) == os.path.abspath(snap_dir):
            # a tag another process dropped between listdir and open
            names = names + ["tag_ghost.json"]
        return names

    monkeypatch.setattr(os, "listdir", phantom_listdir)
    assert wh.tags("lab", "tt") == {"real": 1}
    with pytest.raises(ValueError, match="ghost"):
        wh._resolve_version("lab", "tt", "ghost")


# --- count_matched=False keeps the zero-match guard -----------------------


def test_update_no_match_without_count_skips_commit(fence_table):
    v0 = fence_table._head_light("lab", "fence")["version"]
    # out-of-grammar condition -> no prune ranges -> every file is a
    # victim and ONLY the limit(1) existence probe stands between a
    # no-match update and a full churn rewrite
    out = fence_table.update_where(
        "lab", "fence", "k * 7 = 99999", {"v": "0"}, count_matched=False
    )
    assert out["files_rewritten"] == 0 and out["files_added"] == 0
    assert fence_table._head_light("lab", "fence")["version"] == v0
    # incremental windows over the no-op stay valid trivially
    assert fence_table.read_incremental("lab", "fence", v0).count() == 0


def test_update_with_match_without_count_still_updates(fence_table):
    out = fence_table.update_where(
        "lab", "fence", "k = 1", {"v": "0"}, count_matched=False
    )
    assert out["rows_matched"] is None
    assert out["files_added"] >= 1
    df = fence_table.read("lab", "fence")
    assert df.filter((F.col("k") == 1) & (F.col("v") != 0)).count() == 0
