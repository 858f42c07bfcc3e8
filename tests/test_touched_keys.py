"""Keys-only changelog (r14): ``touched_keys`` returns a CONSERVATIVE
SUPERSET of the keys whose visible rows changed in a window, column-
pruned and with NO per-delete-commit row diffs — the substrate the
keyed consumers (keep-latest MV refresh, batched CDC mirror apply) pull
by default.  Pinned here:

- SUPERSET vs the row-exact changelog over a mixed window (appends,
  covering eq deletes, NON-covering eq deletes, CoW rewrites);
- TIGHTNESS (exact equality) for windows of covering ops only;
- compaction contributes nothing; rollback raises; empty windows give
  an empty keyed frame.
"""

from __future__ import annotations

import json

import pytest

from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
)

SCHEMA = "k int, ts int, event_id int, v int"


def _mk(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    for b in range(3):
        wh.append(
            "lab", "t",
            spark.createDataFrame(
                [(b + j * 3, 0, b * 100 + j, b) for j in range(20)], SCHEMA
            ).coalesce(1),
            batch_id=f"b{b}",
        )
    return wh


def _keys(df):
    return sorted(r["k"] for r in df.collect())


def test_superset_tightness_and_window_contracts(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    v0 = wh._latest_version("lab", "t")

    # covering ops: an append and a MoR upsert (eq delete ON k)
    wh.append(
        "lab", "t",
        spark.createDataFrame([(100, 1, 900, 1), (101, 1, 901, 1)], SCHEMA),
        batch_id="a1",
    )
    wh.merge_upsert(
        "lab", "t",
        spark.createDataFrame([(1, 2, 902, 11)], SCHEMA),
        ["k"], mode="merge-on-read",
    )
    v_cov = wh._latest_version("lab", "t")
    got = _keys(wh.touched_keys("lab", "t", v0, v_cov, ["k"]))
    # TIGHT for covering ops: exactly the changelog's keys
    want = sorted(
        {
            r["k"]
            for r in wh.read_changes("lab", "t", v0, v_cov)
            .select("k")
            .collect()
        }
    )
    assert got == want == [1, 100, 101]

    # NON-covering MoR delete (on event_id, consumer keys on k):
    # victim-file fallback — superset, must still contain the true key
    wh.delete_where("lab", "t", "event_id = 5", mode="merge-on-read")
    # CoW delete: file rewrite (dropped + added files)
    wh.delete_where("lab", "t", "k = 2")
    v1 = wh._latest_version("lab", "t")
    touched = set(_keys(wh.touched_keys("lab", "t", v0, v1, ["k"])))
    true_changed = {
        r["k"]
        for r in wh.read_changes("lab", "t", v0, v1).select("k").collect()
    }
    assert true_changed <= touched  # the superset contract
    # event_id=5 is row (k=15, eid=5) in file b=0: its key must be in
    # the superset even though the delete's keys don't mention k
    assert 15 in touched and 2 in touched

    # compaction contributes nothing (changelog-skip op)
    wh.optimize("lab", "t")
    v2 = wh._latest_version("lab", "t")
    assert _keys(wh.touched_keys("lab", "t", v1, v2, ["k"])) == []

    # empty window: empty frame with the key schema
    empty = wh.touched_keys("lab", "t", v2, v2, ["k"])
    assert empty.columns == ["k"] and empty.count() == 0

    # unknown key column
    with pytest.raises(ValueError, match="no key column"):
        wh.touched_keys("lab", "t", v0, v2, ["nope"])

    # rollback in-window raises (same contract as read_changes)
    wh.append(
        "lab", "t",
        spark.createDataFrame([(200, 3, 903, 1)], SCHEMA),
        batch_id="a2",
    )
    wh.rollback_to_snapshot("lab", "t", v2)
    v3 = wh._latest_version("lab", "t")
    with pytest.raises(ValueError, match="rollback"):
        wh.touched_keys("lab", "t", v2, v3, ["k"])


def test_rename_of_key_column_in_window(spark, tmp_path):
    """Schema DDL INSIDE the window (VERDICT r14 what's-wrong #2): a
    rename of the key column between two appends must not lose keys —
    files written before the rename store the OLD column name and must
    resolve via field ids under the window-END schema, and a covering
    eq delete committed before the rename must keep covering (its
    eq_ids resolve to the new name)."""
    wh = _mk(spark, tmp_path)
    v0 = wh._latest_version("lab", "t")
    wh.append(
        "lab", "t",
        spark.createDataFrame([(300, 1, 910, 1)], SCHEMA),
        batch_id="pre_rename",
    )
    # MoR delete BEFORE the rename (its condition names "k")
    wh.delete_where("lab", "t", "k = 4", mode="merge-on-read")
    wh.rename_column("lab", "t", "k", "kk")
    wh.append(
        "lab", "t",
        spark.createDataFrame(
            [(301, 2, 911, 1)], "kk int, ts int, event_id int, v int"
        ),
        batch_id="post_rename",
    )
    v1 = wh._latest_version("lab", "t")
    got = wh.touched_keys("lab", "t", v0, v1, ["kk"])
    assert got.columns == ["kk"]
    keys = sorted(r["kk"] for r in got.collect())
    # pre-rename append (300), eq-deleted key (4), post-rename append
    # (301) — all present under the window-end name
    assert keys == [4, 300, 301]
    # superset vs the row-exact changelog (also window-end schema)
    true_changed = {
        r["kk"]
        for r in wh.read_changes("lab", "t", v0, v1).select("kk").collect()
    }
    assert true_changed <= set(keys)
    # asking for the OLD name must refuse (window-end schema rules)
    with pytest.raises(ValueError, match="no key column"):
        wh.touched_keys("lab", "t", v0, v1, ["k"])


def test_changelog_fn_failure_leaves_checkpoint_untouched(spark, tmp_path):
    """consume_changes' at-least-once foundation must hold for SWAPPED
    window readers too: an exception from changelog_fn (or from process
    over its frame) propagates BEFORE the checkpoint rewrite, so the
    window redelivers on the next pull."""
    wh = _mk(spark, tmp_path)
    ckpt = str(tmp_path / "ck.json")
    wh.consume_changes("lab", "t", ckpt, lambda ch: None)  # init at head
    with open(ckpt) as f:
        before = json.load(f)
    wh.append(
        "lab", "t",
        spark.createDataFrame([(500, 1, 999, 1)], SCHEMA),
        batch_id="a1",
    )

    def boom(*a, **k):
        raise RuntimeError("reader crash")

    with pytest.raises(RuntimeError, match="reader crash"):
        wh.consume_changes(
            "lab", "t", ckpt, lambda ch: None, changelog_fn=boom
        )
    with open(ckpt) as f:
        assert json.load(f) == before  # not advanced: window redelivers
    # healthy keys reader: window delivers and the checkpoint advances
    seen = []
    wh.consume_changes(
        "lab", "t", ckpt,
        lambda ch: seen.extend(r["k"] for r in ch.collect()),
        changelog_fn=lambda s, t, fv, tv, net=False, branch="main":
            wh.touched_keys(s, t, fv, tv, ["k"], branch=branch),
    )
    assert seen == [500]
    with open(ckpt) as f:
        assert json.load(f)["version"] > before["version"]
