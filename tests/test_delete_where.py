"""Row-level DELETE (VERDICT r6 #3): copy-on-write ``delete_where`` as a
pruned DELTA commit — completes the DML triad next to ``merge_upsert``
and partition-scoped ``optimize``.  Contracts pinned here:

- untouched files are byte-identical after the delete (mtime + entry
  carried verbatim) and their footers are NEVER opened when ``ranges``
  excludes them;
- time travel still reads the pre-delete snapshot;
- SQL NULL semantics: rows where the predicate is NULL are KEPT;
- a fully-emptied victim set commits a pure drop (no 0-row files);
- concurrent removal of a victim raises (conflicting-rewrite validation).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def day_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "deltab", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["day"],
    )
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    for i in range(2):  # two generations -> every day fragmented
        df = spark.createDataFrame(
            [(d, i * 100 + j) for d in days for j in range(5)],
            "day string, v int",
        ).coalesce(1)  # one file per day per generation
        wh.append("lab", "deltab", df, batch_id=f"b{i}")
    return wh


def test_delete_where_basic(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "flat", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "flat",
        spark.createDataFrame([(i, i % 3) for i in range(100)], "id int, k int"),
        batch_id="b0",
    )
    out = wh.delete_where("lab", "flat", "k = 1")
    assert out["rows_deleted"] == 33  # ids 1,4,...,97
    left = wh.read("lab", "flat")
    assert left.count() == 67
    assert left.filter(F.col("k") == 1).count() == 0
    assert wh.head_snapshot("lab", "flat")["operation"] == "delete"


def test_delete_pruned_skips_cold_files_unopened(day_table, monkeypatch):
    """With ``ranges`` scoping to one day, files of other days keep their
    manifest entries verbatim, keep their bytes on disk untouched, and no
    parquet footer of theirs is opened during the delete."""
    import pyarrow.parquet as pq_mod

    wh = day_table
    head = wh.head_snapshot("lab", "deltab")
    v_before = head["version"]
    cold_before = {
        e["path"]: e for e in head["files"]
        if e["partitions"]["day"] != "2024-01-02"
    }
    assert len(cold_before) == 4
    cold_mtimes = {
        p: os.stat(os.path.join(wh._tdir("lab", "deltab"), p)).st_mtime_ns
        for p in cold_before
    }
    rows_total = wh.read("lab", "deltab").count()

    real = pq_mod.ParquetFile
    opened: list[str] = []

    def counting(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "ParquetFile", counting)
    out = wh.delete_where(
        "lab", "deltab",
        "day = '2024-01-02' AND v >= 100",
        ranges={"day": ("2024-01-02", "2024-01-02")},
    )
    assert out["files_rewritten"] == 2 and out["files_kept"] == 4
    assert out["rows_deleted"] == 5  # generation b1's five rows of that day
    # cold files: never opened, entries verbatim, bytes untouched
    assert not [p for p in opened if any(c in p for c in cold_before)]
    head2 = wh.head_snapshot("lab", "deltab")
    paths2 = {e["path"]: e for e in head2["files"]}
    for p, e in cold_before.items():
        assert paths2[p] == e
        assert (
            os.stat(os.path.join(wh._tdir("lab", "deltab"), p)).st_mtime_ns
            == cold_mtimes[p]
        )
    # result rows correct
    assert wh.read("lab", "deltab").count() == rows_total - 5
    assert (
        wh.read("lab", "deltab")
        .filter((F.col("day") == "2024-01-02") & (F.col("v") >= 100))
        .count()
        == 0
    )
    # time travel: the pre-delete snapshot still serves the deleted rows
    assert wh.read_snapshot("lab", "deltab", v_before).count() == rows_total


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "nulls", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "nulls",
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id int, v int"
        ),
        batch_id="b0",
    )
    out = wh.delete_where("lab", "nulls", "v > 15")
    assert out["rows_deleted"] == 1  # only id=3; id=2 (NULL) is kept
    assert sorted(r.id for r in wh.read("lab", "nulls").collect()) == [1, 2]


def test_delete_everything_commits_pure_drop(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "allgone", "zstd", 1, properties={"snapshots": "true"})
    # main-ref is_empty answers off the head's totals at every stage
    assert wh.is_empty("lab", "allgone")  # no snapshot yet
    wh.append(
        "lab", "allgone",
        spark.createDataFrame([(i,) for i in range(10)], "id int"),
        batch_id="b0",
    )
    assert not wh.is_empty("lab", "allgone")
    out = wh.delete_where("lab", "allgone", "id >= 0")
    assert out["rows_deleted"] == 10 and out["files_added"] == 0
    head = wh.head_snapshot("lab", "allgone")
    assert head["files"] == [] and head["total_rows"] == 0
    assert wh.is_empty("lab", "allgone")
    # the pre-delete snapshot still time-travels to the full data
    assert wh.read_snapshot("lab", "allgone", head["parent"]).count() == 10


def test_delete_conflicting_rewrite_raises(day_table, monkeypatch):
    """A victim removed by a concurrent commit between victim selection
    and publish makes the delete raise instead of merging blindly."""
    wh = day_table
    head = wh.head_snapshot("lab", "deltab")
    victim = next(
        e["path"] for e in head["files"]
        if e["partitions"]["day"] == "2024-01-02"
    )
    real = ParquetWarehouse._read_file_list
    fired: list = []

    def racing(self, meta, files, *a, **kw):
        if not fired:  # inject the race after victim selection, once
            fired.append(True)
            self.commit_snapshot(
                "lab", "deltab", "optimize",
                drop_files=[os.path.join(self._tdir("lab", "deltab"), victim)],
            )
        return real(self, meta, files, *a, **kw)

    monkeypatch.setattr(ParquetWarehouse, "_read_file_list", racing)
    with pytest.raises(RuntimeError, match="no longer in the head"):
        # v >= 0 blocks the metadata-only path, forcing the rewrite read
        # where the race is injected
        wh.delete_where(
            "lab", "deltab", "day = '2024-01-02' AND v >= 0",
            ranges={"day": ("2024-01-02", "2024-01-02")},
        )


def test_partition_aligned_delete_is_metadata_only(day_table, monkeypatch):
    """Iceberg metadata-delete parity: when the predicate is exactly a
    partition-value match, every file of that partition is dropped
    outright — ZERO parquet footers opened, zero files written, no Spark
    job — and time travel still reads the pre-delete rows."""
    import pyarrow.parquet as pq_mod

    wh = day_table
    head = wh.head_snapshot("lab", "deltab")
    v_before = head["version"]
    rows_total = wh.read("lab", "deltab").count()

    real = pq_mod.ParquetFile
    opened: list[str] = []

    def counting(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "ParquetFile", counting)
    out = wh.delete_where("lab", "deltab", "day = '2024-01-02'")
    assert out["files_dropped_outright"] == 2 and out["files_rewritten"] == 0
    assert out["files_added"] == 0 and out["rows_deleted"] == 10
    assert opened == []  # metadata only: not one footer touched
    assert wh.read("lab", "deltab").count() == rows_total - 10
    assert (
        wh.read("lab", "deltab").filter(F.col("day") == "2024-01-02").count() == 0
    )
    assert wh.read_snapshot("lab", "deltab", v_before).count() == rows_total
    # IN-set alignment drops multiple partitions outright too
    out2 = wh.delete_where("lab", "deltab", "day IN ('2024-01-01', '2024-01-03')")
    assert out2["files_dropped_outright"] == 4 and out2["files_added"] == 0
    assert wh.read("lab", "deltab").count() == 0


def test_partition_aligned_delete_mixed_predicate_rewrites(day_table):
    """A conjunct on a NON-partition column blocks the outright drop —
    those files take the rewrite path and keep their non-matching rows."""
    wh = day_table
    out = wh.delete_where("lab", "deltab", "day = '2024-01-02' AND v < 3")
    # bounds pruning already excluded generation b1 (v 100..104) from the
    # victim set, so only b0's file rewrites; nothing drops outright
    assert out["files_dropped_outright"] == 0 and out["files_rewritten"] == 1
    assert out["rows_deleted"] == 3  # v in {0,1,2} from generation b0
    left = wh.read("lab", "deltab").filter(F.col("day") == "2024-01-02")
    assert sorted(r.v for r in left.collect()) == [3, 4, 100, 101, 102, 103, 104]


def test_pv_definitely_satisfies_guards():
    pds = ParquetWarehouse._pv_definitely_satisfies
    assert pds("2024-01-02", ("2024-01-02", "2024-01-02")) is True
    assert pds("3", (3, 3)) is True
    assert pds("3", ["1", "3"]) is True
    assert pds("3", ["1", "2"]) is False
    assert pds("3", [1, 3]) is True
    assert pds("03", (3, 3)) is False  # encoding mismatch -> rewrite path
    assert pds("3", (3, 4)) is False  # range, not a point
    assert pds("3", (None, None)) is False
    assert pds("3.5", (3.5, 3.5)) is False  # float formatting ambiguity
    # hive NULL sentinel: rows are NULL, equality never satisfied
    assert pds("__HIVE_DEFAULT_PARTITION__",
               ("__HIVE_DEFAULT_PARTITION__", "__HIVE_DEFAULT_PARTITION__")) is False


def test_delete_no_matching_files_is_noop(day_table):
    wh = day_table
    v = wh.head_snapshot("lab", "deltab")["version"]
    out = wh.delete_where(
        "lab", "deltab", "day = '2099-01-01'",
        ranges={"day": ("2099-01-01", "2099-01-01")},
    )
    assert out["files_rewritten"] == 0 and out["rows_deleted"] == 0
    assert wh.head_snapshot("lab", "deltab")["version"] == v  # no commit


# --- DML x schema evolution (VERDICT r7 #3) -------------------------------


def test_delete_on_evolved_table_spanning_sids(spark, tmp_path):
    """DELETE whose condition names a RENAMED column, over victims from
    TWO schema generations: _auto_ranges must resolve the recorded type
    through the rename, the per-sid read must project old files to the
    current schema, and the rewrite must emit current-schema files.
    DuckDB checks the post-DML evolved read row-for-row."""
    import duckdb

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "evo", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "evo",
        spark.createDataFrame([(i, i * 10) for i in range(10)], "id int, v int"),
        batch_id="b0",
    )
    files_b0 = wh._data_files("lab", "evo")
    wh.rename_column("lab", "evo", "v", "val")
    wh.append(
        "lab", "evo",
        spark.createDataFrame(
            [(100 + i, i * 10) for i in range(10)], "id int, val int"
        ),
        batch_id="b1",
    )
    files_b1 = sorted(set(wh._data_files("lab", "evo")) - set(files_b0))
    out = wh.delete_where("lab", "evo", "val >= 50")
    assert out["rows_deleted"] == 10  # 5 per generation
    con = duckdb.connect()
    expected = con.execute(
        "SELECT id, v AS val FROM read_parquet($b0) WHERE NOT v >= 50 "
        "UNION ALL "
        "SELECT id, val FROM read_parquet($b1) WHERE NOT val >= 50 "
        "ORDER BY id",
        {"b0": files_b0, "b1": files_b1},
    ).fetchall()
    got = sorted((r.id, r.val) for r in wh.read("lab", "evo").collect())
    assert got == [tuple(r) for r in expected]
    # the rewrite emitted CURRENT-schema files: every live entry either
    # kept its original sid or was stamped with the current one, and the
    # post-delete read presents the current column name
    head = wh.head_snapshot("lab", "evo")
    cur_sid = head["schema_id"]
    new_entries = [e for e in head["files"] if "delete_" in e["path"]]
    assert new_entries and all(e.get("sid") == cur_sid for e in new_entries)
    assert wh.read("lab", "evo").columns == ["id", "val"]


def test_delete_prunes_through_rename_without_losing_rows(spark, tmp_path):
    """Bounds recorded under the OLD column name must still prune for a
    condition naming the NEW name — and never lose a matching row."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "evp", "zstd", 1, properties={"snapshots": "true"})
    for i in range(3):  # three files with disjoint id ranges
        wh.append(
            "lab", "evp",
            spark.createDataFrame(
                [(i * 100 + j, j) for j in range(10)], "id int, v int"
            ).coalesce(1),
            batch_id=f"b{i}",
        )
    wh.rename_column("lab", "evp", "id", "ident")
    out = wh.delete_where("lab", "evp", "ident BETWEEN 100 AND 109")
    assert out["rows_deleted"] == 10
    # pruning selected only the middle file (auto-ranges resolved the
    # rename to the recorded per-sid bounds key)
    assert out["files_rewritten"] == 1 and out["files_kept"] == 2
    assert wh.read("lab", "evp").count() == 20


# --- count_rows: the O(metadata) monitoring fast path (r11) -------------


def _no_read(wh, monkeypatch):
    """Assert the fast path never falls back to the join-plan read."""
    def boom(*a, **k):
        raise AssertionError("count_rows fell back to a full read")
    monkeypatch.setattr(type(wh), "read", boom)


def test_count_rows_pos_delete_arithmetic(day_table, monkeypatch):
    """Pending position deletes: count = head totals minus per-target
    tuple counts, with ZERO data IO — no fallback read."""
    wh = day_table
    assert wh.count_rows("lab", "deltab") == 30
    wh.delete_where(
        "lab", "deltab", "v >= 3 AND v <= 4", mode="merge-on-read"
    )  # 2 rows/gen0 file x 3 days = 6 rows, data untouched
    expect = wh.read("lab", "deltab").count()
    assert expect == 24
    _no_read(wh, monkeypatch)
    assert wh.count_rows("lab", "deltab") == 24
    monkeypatch.undo()
    # a second MoR delete hits DIFFERENT files (gen1) -> still exact
    wh.delete_where("lab", "deltab", "v >= 103", mode="merge-on-read")
    expect = wh.read("lab", "deltab").count()
    _no_read(wh, monkeypatch)
    assert wh.count_rows("lab", "deltab") == expect == 18
    monkeypatch.undo()
    # fold clears the delete set -> head-total path
    wh.optimize("lab", "deltab")
    _no_read(wh, monkeypatch)
    assert wh.count_rows("lab", "deltab") == 18


def test_count_rows_sequential_overlap_stays_exact(day_table, monkeypatch):
    """Two SEQUENTIAL MoR deletes targeting the SAME live files: the
    second's victim scan saw the first applied (rv_seq chain), so the
    per-target counts are provably disjoint — still the fast path, no
    read.  This is the steady-state shape (hot files hit repeatedly
    between maintenance ticks)."""
    wh = day_table
    wh.delete_where("lab", "deltab", "v = 0", mode="merge-on-read")
    wh.delete_where("lab", "deltab", "v = 1", mode="merge-on-read")
    dels = wh.delete_files_report("lab", "deltab")
    assert len(dels) == 2
    assert set(dels[0]["targets"]) & set(dels[1]["targets"])
    expect = wh.read("lab", "deltab").count()
    _no_read(wh, monkeypatch)
    assert wh.count_rows("lab", "deltab") == expect == 24


def test_count_rows_falls_back_when_arithmetic_could_lie(day_table, monkeypatch):
    """A BROKEN rv_seq chain (racing overlapping deletes may tuple the
    same row twice) falls back to the delete-applied read — never a
    wrong number."""
    import json

    wh = day_table
    wh.delete_where("lab", "deltab", "v = 0", mode="merge-on-read")
    wh.delete_where("lab", "deltab", "v = 1", mode="merge-on-read")
    # simulate the race: every entry's read predates every commit
    # (rv_seq = 0 breaks the chain for the shared targets)
    head = wh._head_light("lab", "deltab")
    for ref in head["delete_segments"]:
        p = os.path.join(wh._snap_dir("lab", "deltab"), ref["path"])
        with open(p) as f:
            seg = json.load(f)
        for d in seg["files"]:
            d["rv_seq"] = 0
        with open(p, "w") as f:
            json.dump(seg, f)
        wh._seg_cache.pop(p, None)
    calls = []
    real_read = type(wh).read

    def counting_read(self, *a, **k):
        calls.append(1)
        return real_read(self, *a, **k)

    monkeypatch.setattr(type(wh), "read", counting_read)
    assert wh.count_rows("lab", "deltab") == 24
    assert calls, "broken rv_seq chain must fall back to the read"


def test_count_rows_branch_and_empty(day_table, spark):
    wh = day_table
    wh.create_branch("lab", "deltab", "wip")
    wh.delete_where(
        "lab", "deltab", "v < 100", mode="merge-on-read", branch="wip"
    )
    assert wh.count_rows("lab", "deltab", branch="wip") == 15
    assert wh.count_rows("lab", "deltab") == 30  # main untouched
    with pytest.raises(ValueError, match="no branch"):
        wh.count_rows("lab", "deltab", branch="ghost")


def test_count_rows_metadata_only_mode_and_log_report(day_table, monkeypatch):
    """fallback=False returns None instead of reading when arithmetic
    is unprovable — the metadata-only contract log-report uses to show
    the exact visible count under pending pos deletes."""
    from hands_on_iceberg_compression_spark.pipeline.metrology import (
        measure_log_table,
    )

    wh = day_table
    wh.delete_where("lab", "deltab", "v <= 1", mode="merge-on-read")
    _no_read(wh, monkeypatch)  # the whole path must stay metadata-only
    assert wh.count_rows("lab", "deltab", fallback=False) == 24
    row = measure_log_table(wh, "lab", "deltab")
    assert row.live_rows == 24  # visible, not the 30 data rows
    assert row.delete_files == 1
    monkeypatch.undo()
    # a second entry over the same rows whose read position is unknown
    # (no rv_seq, as cherry_pick leaves a picked delete): unprovable now
    (d,) = wh.delete_files_report("lab", "deltab")
    tuples = pq.read_table(os.path.join(wh._tdir("lab", "deltab"), d["path"]))
    _root, dels = wh._write_pos_deletes("lab", "deltab", tuples, 0)
    dels[0].pop("rv_seq")
    wh.commit_snapshot("lab", "deltab", "delete", add_files=[], add_deletes=dels)
    _no_read(wh, monkeypatch)
    assert wh.count_rows("lab", "deltab", fallback=False) is None
    row = measure_log_table(wh, "lab", "deltab")
    assert row.live_rows == 30  # falls back to the data-row total
