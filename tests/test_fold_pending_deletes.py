"""Delete-scoped fold (r19, VERDICT r18 #2): ``fold_pending_deletes``
rewrites ONLY the files a pending merge-on-read delete still APPLIES to
(the read path's own applicability decision — each entry's position
targets) and RETIRES the whole pending set exactly, so the census returns to zero and the
auto-fold policy converges instead of re-firing.  Pinned: equality of
the visible rows across the fold, cold files physically untouched,
inert-entry metadata-only retirement, time travel across the fold, the
rewrite_read_version race fence, policy integration on unbounded
targets (merge_upsert's own maintenance_policy — VERDICT r18 #7 — and
the cdc-apply "pending" default), and fold_scope validation.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
    validate_maintenance_policy,
)

SCHEMA = "k int, ts int, v string"


def _mk(spark, tmp_path, name, sort=True):
    wh = ParquetWarehouse(spark, str(tmp_path / name))
    props = {"snapshots": "true"}
    wh.create_table(
        "lab", "t", "zstd", 1, properties=props,
        sort_order=["k"] if sort else None,
    )
    # three files with DISJOINT key ranges so a key delete's target
    # pruning leaves cold files untouched
    for lo in (0, 100, 200):
        wh.append(
            "lab", "t",
            spark.createDataFrame(
                [(k, 0, f"v{k}") for k in range(lo, lo + 100)], SCHEMA
            ).coalesce(1),
            batch_id=f"b{lo}",
        )
    return wh


def _rows(wh):
    return sorted(
        (r["k"], r["ts"], r["v"]) for r in wh.read("lab", "t").collect()
    )


def _live_paths(wh):
    head = wh.head_snapshot("lab", "t")
    return {e["path"] for e in head["files"]}


def test_fold_rewrites_only_touched_files(spark, tmp_path):
    wh = _mk(spark, tmp_path, "scoped")
    before_paths = _live_paths(wh)
    assert len(before_paths) == 3
    wh.delete_where("lab", "t", "k IN (5, 7)", mode="merge-on-read")  # bounds: file 1
    expected = _rows(wh)
    assert len(expected) == 298
    assert wh.pending_delete_stats("lab", "t")["entries"] == 1
    out = wh.fold_pending_deletes("lab", "t")
    # exactly ONE victim (the file whose bounds cover keys 5/7); the
    # two cold files survive the fold physically untouched
    assert out["victims"] == 1 and out["retired"] == 1
    after_paths = _live_paths(wh)
    assert len(before_paths & after_paths) == 2
    assert wh.pending_delete_stats("lab", "t") == {"entries": 0, "rows": 0}
    assert _rows(wh) == expected
    # count_rows' metadata fast path agrees post-fold (no pending set)
    assert wh.count_rows("lab", "t", fallback=False) == 298


def test_fold_pos_deletes_and_stacked_cdc(spark, tmp_path):
    wh = _mk(spark, tmp_path, "stacked")
    # a position delete (CoW-free merge-on-read delete_where) plus two
    # stacked MoR upsert batches touching the same key
    wh.delete_where("lab", "t", "k = 150", mode="merge-on-read")
    for i in (1, 2):
        wh.merge_upsert(
            "lab", "t",
            spark.createDataFrame([(42, i, f"new{i}")], SCHEMA),
            ["k"], mode="merge-on-read",
        )
    expected = _rows(wh)
    assert (42, 2, "new2") in expected and not any(
        k == 150 for k, _, _ in expected
    )
    pre_version = wh.current_version("lab", "t")
    st = wh.pending_delete_stats("lab", "t")
    assert st["entries"] >= 3
    out = wh.fold_pending_deletes("lab", "t")
    assert out["retired"] == st["entries"]
    assert wh.pending_delete_stats("lab", "t") == {"entries": 0, "rows": 0}
    assert _rows(wh) == expected
    # time travel across the fold: the pre-fold snapshot still reads
    # (superseded generations survive until expire_snapshots)
    old = sorted(
        (r["k"], r["ts"], r["v"])
        for r in wh.read_snapshot("lab", "t", pre_version).collect()
    )
    assert old == expected


def test_fold_inert_entries_metadata_only(spark, tmp_path):
    wh = _mk(spark, tmp_path, "inert")
    # an entry whose targets are all gone from the head (hand-built here:
    # its one tuple names a file no commit ever added) applies to
    # nothing — yet it still counts in the census.  The fold retires it
    # with a METADATA-ONLY commit (no rewrite, no new files).
    _root, dels = wh._write_pos_deletes("lab", "t", pa.table({
        "file_path": pa.array(["data/gone/part-0.parquet"], pa.string()),
        "pos": pa.array([0], pa.int64()),
    }), 0)
    wh.commit_snapshot("lab", "t", "delete", add_files=[], add_deletes=dels)
    expected = _rows(wh)
    assert wh.pending_delete_stats("lab", "t")["entries"] == 1
    before_paths = _live_paths(wh)
    out = wh.fold_pending_deletes("lab", "t")
    assert out == {"files": 0, "victims": 0, "retired": 1}
    assert _live_paths(wh) == before_paths
    assert wh.pending_delete_stats("lab", "t") == {"entries": 0, "rows": 0}
    assert _rows(wh) == expected
    # idempotent: nothing pending -> pure no-op, no commit
    v = wh.current_version("lab", "t")
    assert wh.fold_pending_deletes("lab", "t") == {
        "files": 0, "victims": 0, "retired": 0,
    }
    assert wh.current_version("lab", "t") == v


def test_fold_race_fence(spark, tmp_path):
    """A MoR delete committing between the fold's read and its commit
    must RAISE (rewrite_read_version fence) — publishing would
    resurrect the concurrent delete's rows in the rewritten files."""
    wh = _mk(spark, tmp_path, "race")
    wh.delete_where("lab", "t", "k = 5", mode="merge-on-read")
    plain = ParquetWarehouse(spark, wh.root)

    class Racer(ParquetWarehouse):
        armed = False

        def _read_entries(self, *a, **kw):
            if Racer.armed:
                Racer.armed = False
                plain.delete_where("lab", "t", "k = 205", mode="merge-on-read")
            return super()._read_entries(*a, **kw)

    racer = Racer(spark, wh.root)
    Racer.armed = True
    with pytest.raises(RuntimeError):
        racer.fold_pending_deletes("lab", "t")
    # the concurrent delete survived (not retired, still applies)
    assert not any(k == 205 for k, _, _ in _rows(wh))
    # re-running from the new head folds both entries cleanly
    expected = _rows(wh)
    wh.fold_pending_deletes("lab", "t")
    assert wh.pending_delete_stats("lab", "t") == {"entries": 0, "rows": 0}
    assert _rows(wh) == expected


def test_merge_upsert_maintenance_policy(spark, tmp_path):
    """VERDICT r18 #7: a bare merge_upsert loop bounds its OWN table's
    delete stack via maintenance_policy — delete-scoped by default (the
    writer's table is unbounded), census back to zero after a fire,
    state exact throughout."""
    wh = _mk(spark, tmp_path, "writer")
    seed_paths = _live_paths(wh)
    pol = {"max_pending_delete_entries": 3}
    folded = None
    for i in range(1, 9):
        res = wh.merge_upsert(
            "lab", "t",
            spark.createDataFrame([(i % 5, i, f"u{i}")], SCHEMA),
            ["k"], mode="merge-on-read", maintenance_policy=pol,
        )
        st = wh.pending_delete_stats("lab", "t")
        if "auto_fold" in res:
            folded = res["auto_fold"]
            assert folded["scope"] == "pending"
            assert folded["pending_delete_entries"] > 3
            assert st == {"entries": 0, "rows": 0}
        else:
            assert st["entries"] <= 3
    assert folded is not None, "the policy never fired"
    # the scoped fold touched only delete-target files: the churned
    # keys (1..4) live in the first seed file, so the other two seed
    # files survive every fire physically untouched
    assert len(seed_paths & _live_paths(wh)) >= 2
    # policy refusals: typo'd key, missing threshold, bad fold_scope
    with pytest.raises(ValueError, match="unknown maintenance_policy"):
        wh.merge_upsert(
            "lab", "t",
            spark.createDataFrame([(1, 99, "x")], SCHEMA), ["k"],
            mode="merge-on-read",
            maintenance_policy={"max_pending_deletes": 3},
        )
    with pytest.raises(ValueError, match="never fires"):
        validate_maintenance_policy({"fold_scope": "pending"})
    with pytest.raises(ValueError, match="unknown fold_scope"):
        validate_maintenance_policy(
            {"max_pending_delete_entries": 1, "fold_scope": "partial"}
        )


def test_fold_scope_full_still_available(spark, tmp_path):
    """fold_scope: "full" opts back into compacting optimize() on any
    policy site (here: merge_upsert) — the stack clears AND the table
    compacts to the target file count."""
    wh = _mk(spark, tmp_path, "fullscope")
    pol = {"max_pending_delete_entries": 2, "fold_scope": "full"}
    for i in range(1, 6):
        res = wh.merge_upsert(
            "lab", "t",
            spark.createDataFrame([(i, i, f"u{i}")], SCHEMA),
            ["k"], mode="merge-on-read", maintenance_policy=pol,
        )
        if "auto_fold" in res:
            assert res["auto_fold"]["scope"] == "full"
            assert wh.pending_delete_stats("lab", "t") == {
                "entries": 0, "rows": 0,
            }


def test_compact_small_files_scoped(spark, tmp_path):
    """r19 fragmentation twin: compact_small_files bin-packs only the
    live files below the size threshold — well-sized files survive
    untouched, rows are exact (delete-applied read), and a pending
    delete whose every target was compacted retires with them."""
    wh = ParquetWarehouse(spark, str(tmp_path / "smallf"))
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    # one WELL-SIZED file and three tiny ones
    wh.append(
        "lab", "t",
        spark.createDataFrame(
            [(k, 0, "x" * 200) for k in range(20000)], SCHEMA
        ).coalesce(1),
        batch_id="big",
    )
    for i in range(3):
        wh.append(
            "lab", "t",
            spark.createDataFrame(
                [(100000 + i * 10 + j, 0, f"s{i}{j}") for j in range(5)],
                SCHEMA,
            ).coalesce(1),
            batch_id=f"tiny{i}",
        )
    st = wh.live_file_stats("lab", "t")
    head = wh.head_snapshot("lab", "t")
    assert st["files"] == len(head["files"]) == 4
    assert st["bytes"] == sum(e["bytes"] for e in head["files"])
    big_path = max(head["files"], key=lambda e: e["bytes"])["path"]
    big_bytes = max(e["bytes"] for e in head["files"])
    # pending deletes on a tiny file and on the big one
    wh.delete_where("lab", "t", "k = 100000", mode="merge-on-read")
    wh.delete_where("lab", "t", "k = 7", mode="merge-on-read")
    expected = _rows(wh)
    out = wh.compact_small_files(
        "lab", "t", small_file_bytes=big_bytes
    )
    # victims: 3 tiny data files (+ the small delete-image files MoR
    # would add — none here); the big file is untouched
    assert out["victims"] == 3 and out["files"] >= 1
    head2 = wh.head_snapshot("lab", "t")
    assert big_path in {e["path"] for e in head2["files"]}
    assert len(head2["files"]) == 2  # big + one packed file
    assert _rows(wh) == expected
    # the tiny file's delete folded INTO the rewritten rows and retired
    # with its target; the big file's stays pending
    assert wh.pending_delete_stats("lab", "t")["entries"] == 1
    (d,) = wh.delete_files_report("lab", "t")
    assert d["targets"] == [big_path]
    # fewer than two victims -> no-op, no commit
    v = wh.current_version("lab", "t")
    assert wh.compact_small_files(
        "lab", "t", small_file_bytes=1024
    ) == {"files": 0, "victims": 0}
    assert wh.current_version("lab", "t") == v


def test_max_live_files_policy(spark, tmp_path):
    """maintenance_policy={"max_live_files": N}: the head-JSON census
    fires a small-file compaction past the threshold — a merge_upsert
    loop's file count stays bounded with zero manual maintenance."""
    wh = _mk(spark, tmp_path, "flimit")
    pol = {"max_live_files": 6}
    fired = None
    for i in range(1, 10):
        res = wh.merge_upsert(
            "lab", "t",
            spark.createDataFrame(
                [(1000 + i * 10 + j, i, f"u{i}{j}") for j in range(5)],
                SCHEMA,
            ),
            ["k"], mode="merge-on-read", maintenance_policy=pol,
        )
        if "auto_fold" in res and "small_file_compaction" in res["auto_fold"]:
            fired = res["auto_fold"]["small_file_compaction"]
            assert fired["live_files"] > 6
        assert wh.live_file_stats("lab", "t")["files"] <= 8
    assert fired is not None, "the file threshold never fired"
    # file-only policies are legal (no delete threshold required)...
    validate_maintenance_policy({"max_live_files": 10})
    # ...but a tuning knob without its threshold refuses
    with pytest.raises(ValueError, match="small_file_bytes"):
        validate_maintenance_policy({"small_file_bytes": 1024})
