"""CDC changelog scan (r11): ``read_changes`` — the Iceberg
``create_changelog_view`` analogue: it emits the window's deletes and
rewrites as well as its appends, with ``_change_type`` /
``_commit_version`` / ``_change_ordinal``.

The gold contract (pinned here AND appended to the randomized DML
model): read_snapshot(from) + window inserts − window deletes ==
read_snapshot(to), as a MULTISET under the window-end schema —
whatever mix of appends, replays, CoW rewrites, MoR position deletes,
key deletes, CDC upserts, compactions, and DDL the window contains.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


def _multiset(df, cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _invariant(wh, schema, table, fv, new_cols=()):
    """start + inserts - deletes == end, multiset, window-end schema."""
    tv = wh._latest_version(schema, table)
    end = wh.read(schema, table)
    cols = end.columns
    start = wh.read_snapshot(schema, table, fv)
    for c, t in new_cols:  # columns added by in-window DDL: NULL-fill
        start = start.withColumn(c, F.lit(None).cast(t))
    ch = wh.read_changes(schema, table, fv, tv)
    assert set(ch.columns) == set(
        cols + ["_change_type", "_commit_version", "_change_ordinal"]
    )
    ins = _multiset(ch.filter(F.col("_change_type") == "insert"), cols)
    dels = _multiset(ch.filter(F.col("_change_type") == "delete"), cols)
    got = _multiset(start.select(cols), cols)
    got.update(ins)
    got.subtract(dels)
    assert not -got, "over-deletion: a delete was emitted for a row not present"
    assert +got == _multiset(end, cols)
    return ch


@pytest.fixture()
def ch_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "cht", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "cht",
        spark.createDataFrame(
            [(i, i % 3, 0) for i in range(12)], "id int, k int, v int"
        ),
        batch_id="b0",
    )
    return wh


def test_changelog_invariant_across_all_dml_kinds(ch_table, spark):
    wh = ch_table
    fv = wh._latest_version("lab", "cht")  # window starts AFTER the base
    wh.append(  # plain append
        "lab", "cht",
        spark.createDataFrame([(100, 0, 1), (101, 1, 1)], "id int, k int, v int"),
        batch_id="b1",
    )
    wh.delete_where("lab", "cht", "k = 2", mode="merge-on-read")  # MoR pos
    wh.merge_upsert(  # MoR key delete (tombstone) + update of id 100
        "lab", "cht",
        spark.createDataFrame(
            [(7, None, None, True), (100, 0, 11, False)],
            "id int, k int, v int, dead boolean",
        ),
        ["id"], delete_col="dead", mode="merge-on-read",
    )
    wh.optimize("lab", "cht")  # compaction: must emit NOTHING
    wh.delete_where("lab", "cht", "k = 1")  # CoW rewrite: file-level
    wh.merge_upsert(  # CDC batch: images + eq delete of batch keys
        "lab", "cht",
        spark.createDataFrame([(0, 0, 99), (500, 0, 5)], "id int, k int, v int"),
        ["id"], mode="merge-on-read",
    )
    wh.add_column("lab", "cht", "note", "string")  # DDL: metadata-only
    wh.append(
        "lab", "cht",
        spark.createDataFrame(
            [(600, 0, 6, "hi")], "id int, k int, v int, note string"
        ),
        batch_id="b2",
    )
    ch = _invariant(wh, "lab", "cht", fv, new_cols=[("note", "string")])
    # spot semantics: the MoR pos-delete commit emitted EXACT rows
    by_ver = {
        r["_commit_version"]: r["cnt"]
        for r in ch.groupBy("_commit_version")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert len(by_ver) >= 6
    # optimize's version emitted nothing: its version absent from the map
    hist = {h["version"]: h["operation"] for h in wh.history("lab", "cht")}
    for v, op in hist.items():
        if op in ("optimize", "add_column"):
            assert v not in by_ver
    # ordinals are dense over LOGICAL commits only
    ords = sorted(
        r["_change_ordinal"]
        for r in ch.select("_change_ordinal").distinct().collect()
    )
    assert ords == list(range(1, len(ords) + 1))


def test_changelog_mor_delete_is_row_exact(ch_table, spark):
    """A MoR delete commit emits EXACTLY the matched visible rows —
    not file-level noise."""
    wh = ch_table
    fv = wh._latest_version("lab", "cht")
    wh.delete_where("lab", "cht", "id >= 9", mode="merge-on-read")
    ch = wh.read_changes("lab", "cht", fv)
    rows = sorted(
        (r["id"], r["_change_type"]) for r in ch.collect()
    )
    assert rows == [(9, "delete"), (10, "delete"), (11, "delete")]


def test_changelog_cow_rewrite_emits_delete_insert_pairs(ch_table, spark):
    """File-level semantics on copy-on-write: rewritten-but-unchanged
    rows appear as delete+insert pairs (Iceberg overwrite-snapshot
    changelog behavior); the NET change is still exact."""
    wh = ch_table
    fv = wh._latest_version("lab", "cht")
    wh.delete_where("lab", "cht", "id = 0")  # CoW: rewrites id 0's file
    ch = wh.read_changes("lab", "cht", fv)
    net = _multiset(
        ch.filter(F.col("_change_type") == "delete"), ["id"]
    )
    net.subtract(
        _multiset(ch.filter(F.col("_change_type") == "insert"), ["id"])
    )
    assert +net == Counter({(0,): 1})  # net effect: exactly id=0 gone
    _invariant(wh, "lab", "cht", fv)


def test_changelog_refusals_and_empty(ch_table, spark):
    wh = ch_table
    v1 = wh._latest_version("lab", "cht")
    # empty window: schema-stable empty frame
    ch = wh.read_changes("lab", "cht", v1, v1)
    assert ch.count() == 0
    assert "_change_type" in ch.columns
    # rollback in window refuses
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(200, 0, 2)], "id int, k int, v int"),
        batch_id="r0",
    )
    wh.rollback_to_snapshot("lab", "cht", v1)
    with pytest.raises(ValueError, match="rollback"):
        wh.read_changes("lab", "cht", v1)
    # expired mid-window commit refuses with a clear error
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(201, 0, 2)], "id int, k int, v int"),
        batch_id="r1",
    )
    wh.create_tag("lab", "cht", "old", version=v1)
    wh.expire_snapshots("lab", "cht", keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        wh.read_changes("lab", "cht", v1)


def test_changelog_replay_supersession(ch_table, spark):
    """A replayed batch id supersedes its prior generation: the
    changelog emits the old generation's visible rows as deletes and
    the new generation as inserts."""
    wh = ch_table
    fv = wh._latest_version("lab", "cht")
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(300, 0, 3)], "id int, k int, v int"),
        batch_id="rp",
    )
    wh.append(  # replay the same batch id with different content
        "lab", "cht",
        spark.createDataFrame([(301, 0, 3)], "id int, k int, v int"),
        batch_id="rp",
    )
    ch = _invariant(wh, "lab", "cht", fv)
    rows = sorted((r["id"], r["_change_type"]) for r in ch.collect())
    assert rows == [
        (300, "delete"), (300, "insert"), (301, "insert")
    ]


def test_changelog_net_collapses_rewrite_noise(ch_table, spark):
    """net=True cancels identical insert+delete pairs: a CoW rewrite's
    unchanged rows vanish, in-window insert-then-delete vanishes, and
    the remainder is exactly end-minus-start."""
    wh = ch_table
    fv = wh._latest_version("lab", "cht")
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(400, 0, 4)], "id int, k int, v int"),
        batch_id="n0",
    )
    wh.delete_where("lab", "cht", "id = 400", mode="merge-on-read")
    wh.delete_where("lab", "cht", "id = 0")  # CoW: rewrites a base file
    net = wh.read_changes("lab", "cht", fv, net=True)
    rows = sorted((r["id"], r["_change_type"]) for r in net.collect())
    assert rows == [(0, "delete")]  # all rewrite/appear-disappear noise gone
    # raw form of the same window is noisy but net-equivalent
    raw = wh.read_changes("lab", "cht", fv)
    assert raw.count() > 1
    d = _multiset(raw.filter("_change_type = 'delete'"), ["id", "k", "v"])
    d.subtract(_multiset(raw.filter("_change_type = 'insert'"), ["id", "k", "v"]))
    assert +d == Counter({(0, 0, 0): 1})
    # invariant holds for the net form too
    cols = ["id", "k", "v"]
    start = _multiset(wh.read_snapshot("lab", "cht", fv), cols)
    start.update(_multiset(net.filter("_change_type = 'insert'"), cols))
    start.subtract(_multiset(net.filter("_change_type = 'delete'"), cols))
    assert +start == _multiset(wh.read("lab", "cht"), cols)


def test_changelog_publish_with_pending_branch_deletes(ch_table, spark):
    """Review r11 #1 (confirmed bug): a fast_forward/merge publish
    carries a branch's ADDED files and its pending deletes ON those
    files in ONE commit — the added files must be read under the
    commit's own delete set or the changelog emits phantom inserts for
    rows the deletes hide."""
    wh = ch_table
    fv = wh._latest_version("lab", "cht")
    wh.create_branch("lab", "cht", "wip")
    wh.append(
        "lab", "cht",
        spark.createDataFrame(
            [(700, 0, 7), (701, 0, 7), (702, 0, 7)], "id int, k int, v int"
        ),
        batch_id="w0", branch="wip",
    )
    wh.delete_where(
        "lab", "cht", "id = 701", mode="merge-on-read", branch="wip"
    )
    wh.fast_forward("lab", "cht", "wip")  # ONE commit: adds + deletes
    ch = _invariant(wh, "lab", "cht", fv)
    rows = sorted((r["id"], r["_change_type"]) for r in ch.collect())
    assert rows == [(700, "insert"), (702, "insert")]  # 701 never appears
    # same shape through the diverged-merge path
    fv2 = wh._latest_version("lab", "cht")
    wh.create_branch("lab", "cht", "wip2")
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(710, 0, 7), (711, 0, 7)], "id int, k int, v int"),
        batch_id="w1", branch="wip2",
    )
    wh.delete_where(
        "lab", "cht", "id = 711", mode="merge-on-read", branch="wip2"
    )
    wh.append(  # diverge main
        "lab", "cht",
        spark.createDataFrame([(799, 0, 7)], "id int, k int, v int"),
        batch_id="m9",
    )
    wh.merge_branch("lab", "cht", "wip2")
    # the merge publishes TWO main commits (the append pick, then the
    # delete pick) — so unlike the single fast_forward commit above,
    # 711 legitimately appears as insert-then-delete in the raw form...
    ch2 = _invariant(wh, "lab", "cht", fv2)
    got = sorted((r["id"], r["_change_type"]) for r in ch2.collect())
    assert got == [
        (710, "insert"), (711, "delete"), (711, "insert"), (799, "insert")
    ]
    # ... and net=True collapses the appear-then-vanish row away
    net = wh.read_changes("lab", "cht", fv2, net=True)
    assert sorted((r["id"], r["_change_type"]) for r in net.collect()) == [
        (710, "insert"), (799, "insert")
    ]


def test_changelog_on_branch(ch_table, spark):
    """Review r11 #8: the CDC-on-branch mainline gets changelog access
    (branch=), and tags refuse on branches like every other branch read."""
    wh = ch_table
    wh.create_branch("lab", "cht", "cdc")
    fv = wh._snapshot_versions("lab", "cht", "cdc")[-1]
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(800, 0, 8)], "id int, k int, v int"),
        batch_id="c0", branch="cdc",
    )
    wh.delete_where("lab", "cht", "id = 3", mode="merge-on-read", branch="cdc")
    ch = wh.read_changes("lab", "cht", fv, branch="cdc")
    rows = sorted((r["id"], r["_change_type"]) for r in ch.collect())
    assert rows == [(3, "delete"), (800, "insert")]
    # main is untouched and sees no changes in that window shape
    assert wh.read("lab", "cht").count() == 12
    with pytest.raises(ValueError, match="main-namespace"):
        wh.read_changes("lab", "cht", "sometag", branch="cdc")


def test_changelog_net_refuses_map_columns(ch_table, spark):
    wh = ch_table
    wh.add_column("lab", "cht", "attrs", "map<string,int>")
    fv = wh._latest_version("lab", "cht")
    wh.append(
        "lab", "cht",
        spark.createDataFrame(
            [(900, 0, 9, {"a": 1})], "id int, k int, v int, attrs map<string,int>"
        ),
        batch_id="mm0",
    )
    assert wh.read_changes("lab", "cht", fv).count() == 1  # raw works
    with pytest.raises(ValueError, match="map-typed"):
        wh.read_changes("lab", "cht", fv, net=True)


def test_changelog_mor_diff_refuses_map_columns(ch_table, spark):
    """Review r11 pass 2 #1: the raw changelog's before/after diff is a
    SET OPERATION Spark refuses on map columns — refuse with a clear
    error at the MoR-delete commit, not an opaque AnalysisException."""
    wh = ch_table
    wh.add_column("lab", "cht", "attrs", "map<string,int>")
    fv = wh._latest_version("lab", "cht")
    wh.delete_where("lab", "cht", "id = 1", mode="merge-on-read")
    with pytest.raises(ValueError, match="map-typed"):
        wh.read_changes("lab", "cht", fv).collect()
    with pytest.raises(ValueError, match="no branch 'wpi'"):
        wh.read_changes("lab", "cht", fv, to_version=fv + 1, branch="wpi")


def test_consume_changes_checkpointed_at_least_once(ch_table, spark, tmp_path):
    """The CDC consumer loop: bootstrap at head, pull deltas, advance
    the checkpoint only AFTER process() succeeds — a crashed consumer
    re-delivers the window (at-least-once)."""
    wh = ch_table
    ckpt = str(tmp_path / "cdc" / "ckpt.json")
    seen = []

    def sink(df):
        seen.extend(
            (r["id"], r["_change_type"]) for r in df.collect()
        )

    # bootstrap: initializes at head, delivers nothing
    out = wh.consume_changes("lab", "cht", ckpt, sink)
    assert out["delivered"] is False and seen == []
    # changes land; the next pull delivers exactly them
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(950, 0, 9)], "id int, k int, v int"),
        batch_id="c1",
    )
    wh.delete_where("lab", "cht", "id = 2", mode="merge-on-read")
    out = wh.consume_changes("lab", "cht", ckpt, sink)
    assert out["delivered"] is True
    assert sorted(seen) == [(2, "delete"), (950, "insert")]
    # idle pull: no delivery, checkpoint stable
    assert wh.consume_changes("lab", "cht", ckpt, sink)["delivered"] is False
    # crash inside process: checkpoint NOT advanced -> re-delivery
    wh.delete_where("lab", "cht", "id = 950", mode="merge-on-read")

    def boom(df):
        raise RuntimeError("consumer crashed")

    with pytest.raises(RuntimeError, match="consumer crashed"):
        wh.consume_changes("lab", "cht", ckpt, boom)
    seen.clear()
    out = wh.consume_changes("lab", "cht", ckpt, sink)
    assert out["delivered"] is True
    assert seen == [(950, "delete")]
    # backfill bootstrap from an explicit older version
    ckpt2 = str(tmp_path / "cdc" / "ckpt2.json")
    seen2 = []
    wh.consume_changes(
        "lab", "cht", ckpt2,
        lambda df: seen2.extend(
            (r["id"], r["_change_type"]) for r in df.collect()
        ),
        start_version=1,
    )
    assert (950, "insert") in seen2 and (950, "delete") in seen2


def test_consume_changes_guards_and_recovery(ch_table, spark, tmp_path):
    """Review r11 pass 3: the checkpoint pins its REF (cross-ref pulls
    raise — version counters aren't comparable), a head BELOW the
    checkpoint raises instead of silently re-baselining, start_version
    skips FORWARD past a poison window, and metadata-only windows skip
    process() (no phantom deliveries)."""
    wh = ch_table
    ckpt = str(tmp_path / "c" / "k.json")
    wh.consume_changes("lab", "cht", ckpt, lambda df: None)  # bootstrap
    wh.create_branch("lab", "cht", "b1")
    with pytest.raises(ValueError, match="not comparable across refs"):
        wh.consume_changes("lab", "cht", ckpt, lambda df: None, branch="b1")
    # metadata-only window: checkpoint advances, process NOT called
    wh.add_column("lab", "cht", "note", "string")
    wh.optimize("lab", "cht")
    called = []
    out = wh.consume_changes("lab", "cht", ckpt, lambda df: called.append(1))
    assert out["delivered"] is False and not called
    # poison window: a rollback wedges the pull; start_version recovers
    v_ok = wh._latest_version("lab", "cht")
    wh.append(
        "lab", "cht",
        spark.createDataFrame(
            [(970, 0, 9, None)], "id int, k int, v int, note string"
        ),
        batch_id="p0",
    )
    wh.rollback_to_snapshot("lab", "cht", v_ok)
    with pytest.raises(ValueError, match="rollback"):
        wh.consume_changes("lab", "cht", ckpt, lambda df: None)
    head_now = wh._latest_version("lab", "cht")
    out = wh.consume_changes(
        "lab", "cht", ckpt, lambda df: None, start_version=head_now
    )
    assert out["from"] == head_now  # skipped forward, unwedged
    # regressed head (recreated table / stale root) raises
    import json as _json

    with open(ckpt, "w") as f:
        _json.dump({"version": 999, "branch": "main"}, f)
    with pytest.raises(ValueError, match="BELOW the"):
        wh.consume_changes("lab", "cht", ckpt, lambda df: None)


def test_consume_changes_recovery_persists_checkpoint(
    ch_table, spark, tmp_path
):
    """ADVICE r11 medium: a start_version skip-forward landing EXACTLY
    on the current head must still rewrite the checkpoint — otherwise
    the next plain pull re-reads the old poisoned version and wedges
    again, contradicting the documented recovery."""
    wh = ch_table
    ckpt = str(tmp_path / "c2" / "k.json")
    wh.consume_changes("lab", "cht", ckpt, lambda df: None)  # bootstrap
    v_ok = wh._latest_version("lab", "cht")
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(971, 0, 9)], "id int, k int, v int"),
        batch_id="p1",
    )
    wh.rollback_to_snapshot("lab", "cht", v_ok)  # poison the window
    with pytest.raises(ValueError, match="rollback"):
        wh.consume_changes("lab", "cht", ckpt, lambda df: None)
    head_now = wh._latest_version("lab", "cht")
    # recover by skipping forward to EXACTLY the head (fv == head_v)
    out = wh.consume_changes(
        "lab", "cht", ckpt, lambda df: None, start_version=head_now
    )
    assert out["from"] == out["to"] == head_now
    # the checkpoint MUST have been rewritten: a plain follow-up pull
    # does not re-enter the poison window
    out2 = wh.consume_changes("lab", "cht", ckpt, lambda df: None)
    assert out2["from"] == head_now and out2["delivered"] is False
    # and after new commits it delivers normally
    seen = []
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(972, 0, 9)], "id int, k int, v int"),
        batch_id="p2",
    )
    wh.consume_changes(
        "lab", "cht", ckpt,
        lambda df: seen.extend(r["id"] for r in df.collect()),
    )
    assert seen == [972]


def test_consume_changes_error_names_start_version(ch_table, tmp_path):
    """ADVICE r11 low: when start_version (not the checkpoint) exceeds
    the head, the error must say so — the misleading 'checkpointed'
    wording hit users exactly during the recovery flow."""
    wh = ch_table
    head = wh._latest_version("lab", "cht")
    ckpt = str(tmp_path / "c3" / "k.json")
    with pytest.raises(ValueError, match="start_version=999"):
        wh.consume_changes(
            "lab", "cht", ckpt, lambda df: None, start_version=999
        )
    # checkpoint-sourced regression still names the checkpoint
    wh.consume_changes("lab", "cht", ckpt, lambda df: None)
    import json as _json

    with open(ckpt, "w") as f:
        _json.dump({"version": head + 500, "branch": "main"}, f)
    with pytest.raises(ValueError, match="checkpointed v"):
        wh.consume_changes("lab", "cht", ckpt, lambda df: None)


def test_consume_changes_metadata_only_window_is_zero_job(
    ch_table, spark, tmp_path, monkeypatch
):
    """VERDICT r11 'what's wrong' #2: a poll loop idling through
    maintenance ticks (compaction / DDL commits only) must decide
    'nothing to deliver' from the head JSONs alone — no changelog plan,
    no emptiness-probe Spark job."""
    wh = ch_table
    ckpt = str(tmp_path / "mz" / "k.json")
    wh.consume_changes("lab", "cht", ckpt, lambda df: None)  # bootstrap
    wh.optimize("lab", "cht")
    wh.add_column("lab", "cht", "note2", "string")
    wh.rewrite_manifests("lab", "cht")

    def boom(*a, **k):
        raise AssertionError("changelog built on a metadata-only window")

    monkeypatch.setattr(wh, "read_changes", boom)
    called = []
    out = wh.consume_changes("lab", "cht", ckpt, lambda df: called.append(1))
    assert out["delivered"] is False and not called
    # the checkpoint still advanced past the window
    out2 = wh.consume_changes("lab", "cht", ckpt, lambda df: None)
    assert out2["from"] == out["to"] and out2["to"] == out["to"]
    monkeypatch.undo()
    # a MIXED window (append between compactions) still delivers
    wh.append(
        "lab", "cht",
        spark.createDataFrame(
            [(980, 0, 9, None)], "id int, k int, v int, note2 string"
        ),
        batch_id="mz1",
    )
    wh.optimize("lab", "cht")
    seen = []
    out = wh.consume_changes(
        "lab", "cht", ckpt,
        lambda df: seen.extend(r["id"] for r in df.collect()),
    )
    assert out["delivered"] is True and seen == [980]


def test_consume_probe_skip_keeps_netting_semantics(ch_table, spark):
    """r15 tick-floor fold guard: the head-JSON emptiness proof
    (_window_proves_rows) must NEVER skip the probe for net=True
    row-exact pulls — a window can add rows AND net to zero changes
    (insert+delete of the same key), and process must not run on it.
    For net=False the proof fires and process runs without the probe."""
    wh = ch_table
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="ckpt_probe_")
    ck_net, ck_raw = os.path.join(d, "net.json"), os.path.join(d, "raw.json")
    wh.consume_changes("lab", "cht", ck_net, lambda ch: None, net=True)
    wh.consume_changes("lab", "cht", ck_raw, lambda ch: None, net=False)
    # window that ADDS rows (proof fires) but NETS to nothing
    wh.append(
        "lab", "cht",
        spark.createDataFrame([(100, 1, 1)], "id int, k int, v int"),
        batch_id="nz",
    )
    wh.delete_where("lab", "cht", "id = 100", mode="merge-on-read")
    called = []
    out = wh.consume_changes(
        "lab", "cht", ck_net, lambda ch: called.append(ch.count()), net=True
    )
    assert called == [] and out["delivered"] is False
    # net=False over the same window: proof fires, process runs, and
    # the frame is genuinely non-empty (the probe was safely skipped)
    out = wh.consume_changes(
        "lab", "cht", ck_raw, lambda ch: called.append(ch.count()), net=False
    )
    assert out["delivered"] is True and called and called[0] > 0


def test_merge_upsert_small_and_large_paths_agree(ch_table, spark):
    """r15 drift net: the bounded-probe (driver-side stats + local
    delete write) and combined-aggregate paths of merge_upsert must
    produce identical tables, identical delete-entry metadata shape,
    and identical refusals — pinned by running the same batch through
    both (forced via MOR_LOCAL_DELETE_KEYS_MAX) on twin tables."""
    wh = ch_table
    wh.create_table(
        "lab", "twin", "zstd", 1, properties={"snapshots": "true"}
    )
    wh.append(
        "lab", "twin",
        spark.createDataFrame(
            [(i, i % 3, 0) for i in range(12)], "id int, k int, v int"
        ),
        batch_id="b0",
    )

    def batch():
        return spark.createDataFrame(
            [(2, 9, 99, False), (50, 9, 50, False), (3, 0, 0, True)],
            "id int, k int, v int, dead boolean",
        )

    real_cap = ParquetWarehouse.MOR_LOCAL_DELETE_KEYS_MAX
    try:
        out_small = wh.merge_upsert(
            "lab", "cht", batch(), ["id"],
            delete_col="dead", mode="merge-on-read",
        )
        ParquetWarehouse.MOR_LOCAL_DELETE_KEYS_MAX = 0  # force agg path
        out_big = wh.merge_upsert(
            "lab", "twin", batch(), ["id"],
            delete_col="dead", mode="merge-on-read",
        )
    finally:
        ParquetWarehouse.MOR_LOCAL_DELETE_KEYS_MAX = real_cap
    for k in ("upserts", "deletes", "delete_files_added"):
        assert out_small[k] == out_big[k], (k, out_small, out_big)
    rows = lambda t: sorted(  # noqa: E731
        (r["id"], r["k"], r["v"])
        for r in wh.read("lab", t).collect()
    )
    assert rows("cht") == rows("twin")
    assert (2, 9, 99) in rows("cht") and all(r[0] != 3 for r in rows("cht"))
    # delete-entry metadata: the same victims, tuple for tuple
    def dels(t):
        head = wh.head_snapshot("lab", t)
        return [
            {
                "kind": d["kind"],
                "rows": d["rows"],
                "counts": sorted(d["target_counts"].values()),
            }
            for d in head.get("deletes", [])
        ]
    assert dels("cht") == dels("twin")
    # duplicate keys refuse identically on both paths
    dup = spark.createDataFrame(
        [(7, 0, 1, False), (7, 1, 2, False)],
        "id int, k int, v int, dead boolean",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate keys"):
        wh.merge_upsert(
            "lab", "cht", dup, ["id"], delete_col="dead",
            mode="merge-on-read",
        )
    try:
        ParquetWarehouse.MOR_LOCAL_DELETE_KEYS_MAX = 0
        with _pytest.raises(ValueError, match="duplicate keys"):
            wh.merge_upsert(
                "lab", "twin", dup, ["id"], delete_col="dead",
                mode="merge-on-read",
            )
    finally:
        ParquetWarehouse.MOR_LOCAL_DELETE_KEYS_MAX = real_cap
