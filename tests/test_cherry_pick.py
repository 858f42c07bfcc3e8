"""Branch cherry-pick (VERDICT r9 "what's missing" #3): replay ONE
branch commit onto a main head that has MOVED past the fork point — the
divergence case ``fast_forward`` correctly refuses.  Nessie (the catalog
the reference deploys, compose/docker-compose.yaml:61-70) merges
diverged branches; ``cherry_pick`` is the pragmatic 80%: the picked
commit's entry delta carries verbatim, conflicts refuse.

Contracts pinned:
- divergent-history append pick round-trips: main == mainline + staged,
  DuckDB-checked over the manifest's exact file list; picked entries
  keep their bounds (no footer reopened) and get the NEW commit's seq;
- a CoW rewrite pick whose dropped files main no longer has RAISES
  (conflicting-rewrite fence) instead of erasing main's work;
- an equality-delete pick REPLAYS at pick time (seq scoping): it
  reaches rows main appended after the fork too;
- a position-delete pick whose target files main rewrote RAISES;
- DDL commits have no data delta and are rejected outright; picks whose
  entries carry a schema id main lacks (branch-side DDL) refuse;
- dropping the eq-key column on main refuses a later eq-delete pick.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def cp_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "cpt", "zstd", 1, properties={"snapshots": "true"})
    for i in range(2):
        wh.append(
            "lab", "cpt",
            spark.createDataFrame(
                [(i * 10 + j, f"base{i}") for j in range(10)],
                "id int, src string",
            ),
            batch_id=f"b{i}",
        )
    return wh


def _mk_branch_append(wh, spark, name, rows, batch_id):
    wh.append(
        "lab", "cpt",
        spark.createDataFrame(rows, "id int, src string"),
        batch_id=batch_id,
        branch=name,
    )
    return wh._snapshot_versions("lab", "cpt", name)[-1]


def test_divergent_append_pick_roundtrip(cp_table, spark):
    wh = cp_table
    wh.create_branch("lab", "cpt", "feat")
    staged = [(100 + j, "staged") for j in range(25)]
    picked_v = _mk_branch_append(wh, spark, "feat", staged, "bf0")
    # main moves past the fork -> fast_forward refuses, cherry_pick works
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(900, "mainline")], "id int, src string"),
        batch_id="m0",
    )
    with pytest.raises(RuntimeError, match="diverged"):
        wh.fast_forward("lab", "cpt", "feat")
    branch_entries = {
        e["path"]: e
        for e in wh._materialize(
            "lab", "cpt",
            wh._load_head_light("lab", "cpt", picked_v, "feat"),
        )["files"]
    }
    out = wh.cherry_pick("lab", "cpt", "feat", picked_v)
    assert out["files_added"] >= 1
    assert out["files_dropped"] == 0
    got = sorted((r.id, r.src) for r in wh.read("lab", "cpt").collect())
    assert len(got) == 46  # 20 base + 1 mainline + 25 staged
    # DuckDB over the manifest's EXACT file list
    head = wh._materialize(
        "lab", "cpt", wh.head_snapshot("lab", "cpt")
    )
    tdir = wh._tdir("lab", "cpt")
    files = [os.path.join(tdir, e["path"]) for e in head["files"]]
    con = duckdb.connect()
    expected = con.execute(
        "SELECT id, src FROM read_parquet($files) ORDER BY id",
        {"files": files},
    ).fetchall()
    assert got == sorted((int(i), s) for i, s in expected)
    # picked entries carried verbatim (bounds intact, no footer reopen)
    # and re-stamped with the NEW main commit's seq
    for e in head["files"]:
        if e["path"] in branch_entries and e["path"] not in {
            x["path"]
            for x in wh._materialize(
                "lab", "cpt",
                wh._load_head_light(
                    "lab", "cpt", wh._snapshot_versions("lab", "cpt", "feat")[0]
                ),
            )["files"]
        }:
            src = branch_entries[e["path"]]
            assert e.get("bounds") == src.get("bounds")
            assert e["seq"] == out["version"]
    # picking a metadata-only branch commit is refused outright
    with pytest.raises(ValueError, match="not a commit"):
        wh.cherry_pick("lab", "cpt", "feat", 999)


def test_pick_cow_rewrite_conflict_raises(cp_table, spark):
    """A branch-staged copy-on-write rewrite (add+drop) picks cleanly
    while main still has the victims, and RAISES once main rewrote
    them."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "cow")
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "cow")[-1], "cow"
    )
    bfiles = wh._materialize("lab", "cpt", bhead)["files"]
    tdir = wh._tdir("lab", "cpt")
    victim = bfiles[0]["path"]
    # hand-rolled branch CoW: rewrite the victim minus one row into a new
    # generation (what delete_where does), committed on the branch
    gen = os.path.join(tdir, "data", "rw0", "g_test")
    vdf = spark.read.parquet(os.path.join(tdir, victim))
    drop_id = vdf.orderBy("id").first().id  # a row ACTUALLY in the victim
    kept = vdf.filter(F.col("id") != drop_id)
    kept.coalesce(1).write.mode("error").parquet(gen)
    new = [
        os.path.join(b, fn)
        for b, _d, fns in os.walk(gen)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    wh.commit_snapshot(
        "lab", "cpt", "delete",
        add_files=new,
        drop_files=[os.path.join(tdir, victim)],
        expected_schema_id=bhead.get("schema_id"),
        branch="cow",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "cow")[-1]
    # diverge main with an unrelated append: pick still applies
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(901, "mainline")], "id int, src string"),
        batch_id="m1",
    )
    out = wh.cherry_pick("lab", "cpt", "cow", picked_v)
    assert out["files_dropped"] == 1
    got = wh.read("lab", "cpt")
    assert got.count() == 20  # 20 base - 1 deleted + 1 mainline
    assert got.filter(F.col("id") == drop_id).count() == 0
    # now a pick whose victims main ALREADY rewrote must refuse:
    # re-stage the same shape on a fresh branch, then optimize main
    wh.create_branch("lab", "cpt", "cow2")
    bhead2 = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "cow2")[-1], "cow2"
    )
    victim2 = wh._materialize("lab", "cpt", bhead2)["files"][0]["path"]
    gen2 = os.path.join(tdir, "data", "rw1", "g_test")
    vdf2 = spark.read.parquet(os.path.join(tdir, victim2))
    vdf2.filter(F.col("id") != vdf2.orderBy("id").first().id).coalesce(
        1
    ).write.mode("error").parquet(gen2)
    new2 = [
        os.path.join(b, fn)
        for b, _d, fns in os.walk(gen2)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    wh.commit_snapshot(
        "lab", "cpt", "delete",
        add_files=new2,
        drop_files=[os.path.join(tdir, victim2)],
        expected_schema_id=bhead2.get("schema_id"),
        branch="cow2",
    )
    picked_v2 = wh._snapshot_versions("lab", "cpt", "cow2")[-1]
    wh.optimize("lab", "cpt")  # main rewrites every file incl. victim2
    with pytest.raises(RuntimeError, match="no longer in the head"):
        wh.cherry_pick("lab", "cpt", "cow2", picked_v2)


def test_pick_eq_delete_replays_at_pick_time(cp_table, spark):
    """An equality delete staged on a branch, picked after main moved:
    seq scoping replays it against EVERYTHING live at pick time —
    including a row main appended after the fork with the same key."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "ret")
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "ret")[-1], "ret"
    )
    cur = {f["name"]: f for f in bhead["schemas"][str(bhead["schema_id"])]}
    root, dels = wh._write_eq_deletes_local(
        "lab", "cpt", [(7,)], ["id"], {"id": cur["id"]["type"]},
        [cur["id"]["id"]], {"id": {"set": [7]}},
    )
    wh.commit_snapshot(
        "lab", "cpt", "delete", add_files=[], add_deletes=dels,
        expected_schema_id=bhead.get("schema_id"), branch="ret",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "ret")[-1]
    # main diverges AND re-appends the same key before the pick
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(7, "mainline-dup")], "id int, src string"),
        batch_id="m2",
    )
    out = wh.cherry_pick("lab", "cpt", "ret", picked_v)
    assert out["delete_files_added"] == 1
    got = wh.read("lab", "cpt")
    assert got.filter(F.col("id") == 7).count() == 0  # both copies gone
    assert got.count() == 19
    # a row appended AFTER the pick survives (strictly-lower-seq rule)
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(7, "after-pick")], "id int, src string"),
        batch_id="m3",
    )
    assert wh.read("lab", "cpt").filter(F.col("id") == 7).count() == 1


def test_pick_pos_delete_target_gone_raises(cp_table, spark):
    wh = cp_table
    wh.create_branch("lab", "cpt", "pos")
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "pos")[-1], "pos"
    )
    target = wh._materialize("lab", "cpt", bhead)["files"][0]["path"]
    tuples = spark.createDataFrame(
        [(target, 0)], "file_path string, pos bigint"
    )
    _root, dels = wh._write_pos_deletes("lab", "cpt", tuples)
    wh.commit_snapshot(
        "lab", "cpt", "delete", add_files=[], add_deletes=dels,
        expected_schema_id=bhead.get("schema_id"), branch="pos",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "pos")[-1]
    wh.optimize("lab", "cpt")  # main rewrites the target away
    with pytest.raises(RuntimeError, match="position deletes target"):
        wh.cherry_pick("lab", "cpt", "pos", picked_v)


def test_pick_ddl_and_schema_divergence_refused(cp_table, spark):
    wh = cp_table
    wh.create_branch("lab", "cpt", "ddl")
    # DDL on the branch head chain: commit a schema change there
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "ddl")[-1], "ddl"
    )
    fields = [
        {"name": f["name"], "type": f["type"]}
        for f in bhead["schemas"][str(bhead["schema_id"])]
    ] + [{"name": "extra", "type": "int"}]
    # main-side DDL helper works on main only; emulate branch DDL via a
    # metadata-only commit carrying a new schema the way add_column does
    import json

    snap_dir = wh._snap_dir("lab", "cpt")
    new_sid = max(int(s) for s in bhead["schemas"]) + 1
    manifest = dict(bhead)
    manifest["schemas"] = {
        **bhead["schemas"],
        str(new_sid): [
            {"id": i + 1, **f} for i, f in enumerate(fields)
        ],
    }
    manifest["schema_id"] = new_sid
    manifest["version"] = bhead["version"] + 1
    manifest["parent"] = bhead["version"]
    manifest["operation"] = "add_column"
    bdir = wh._ref_dir("lab", "cpt", "ddl")
    assert wh._cas_link(manifest, os.path.join(
        bdir, f"v{manifest['version']:06d}.json"
    ))
    wh._write_version_hint("lab", "cpt", manifest["version"], "ddl")
    # a metadata-only commit has no data delta -> refused outright
    with pytest.raises(ValueError, match="metadata-only"):
        wh.cherry_pick("lab", "cpt", "ddl", manifest["version"])
    # an append UNDER the branch-only schema carries a sid main lacks
    wh.append(
        "lab", "cpt",
        spark.createDataFrame(
            [(500, "bs", 1)], "id int, src string, extra int"
        ),
        batch_id="bddl",
        branch="ddl",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "ddl")[-1]
    wh.append(  # diverge main
        "lab", "cpt",
        spark.createDataFrame([(902, "mainline")], "id int, src string"),
        batch_id="m4",
    )
    with pytest.raises(RuntimeError, match="absent or diverged"):
        wh.cherry_pick("lab", "cpt", "ddl", picked_v)


def test_pick_eq_delete_key_dropped_on_main_refused(cp_table, spark):
    wh = cp_table
    wh.create_branch("lab", "cpt", "ek")
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "ek")[-1], "ek"
    )
    cur = {f["name"]: f for f in bhead["schemas"][str(bhead["schema_id"])]}
    _root, dels = wh._write_eq_deletes_local(
        "lab", "cpt", [("base0",)], ["src"], {"src": cur["src"]["type"]},
        [cur["src"]["id"]], {"src": {"set": ["base0"]}},
    )
    wh.commit_snapshot(
        "lab", "cpt", "delete", add_files=[], add_deletes=dels,
        expected_schema_id=bhead.get("schema_id"), branch="ek",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "ek")[-1]
    wh.drop_column("lab", "cpt", "src")  # main drops the key column
    with pytest.raises(RuntimeError, match="field id"):
        wh.cherry_pick("lab", "cpt", "ek", picked_v)


def test_pick_rewrite_refused_when_main_has_unseen_pending_deletes(
    cp_table, spark
):
    """Review finding #2: a picked branch CoW rewrite re-materializes its
    victims' rows as the BRANCH read them; a merge-on-read delete main
    committed since the fork was not applied to that read, and the
    re-stamped adds would out-sequence it — the rows would silently
    resurrect.  The pick must refuse (branch-side mirror of the
    rewrite_read_version fence)."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "rw")
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "rw")[-1], "rw"
    )
    tdir = wh._tdir("lab", "cpt")
    victim = wh._materialize("lab", "cpt", bhead)["files"][0]["path"]
    vdf = spark.read.parquet(os.path.join(tdir, victim))
    gen = os.path.join(tdir, "data", "rwf", "g_test")
    vdf.filter(F.col("id") != vdf.orderBy("id").first().id).coalesce(
        1
    ).write.mode("error").parquet(gen)
    new = [
        os.path.join(b, fn)
        for b, _d, fns in os.walk(gen)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    wh.commit_snapshot(
        "lab", "cpt", "delete",
        add_files=new, drop_files=[os.path.join(tdir, victim)],
        expected_schema_id=bhead.get("schema_id"), branch="rw",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "rw")[-1]
    # main commits a pending MoR eq delete the branch never saw
    wh.delete_by_keys("lab", "cpt", [15], eq_cols=["id"])
    assert wh.read("lab", "cpt").filter(F.col("id") == 15).count() == 0
    with pytest.raises(RuntimeError, match="resurrect"):
        wh.cherry_pick("lab", "cpt", "rw", picked_v)
    # row 15 still deleted, pick not committed
    assert wh.read("lab", "cpt").filter(F.col("id") == 15).count() == 0
    # folding main's deletes clears the fence for APPEND-shaped picks
    # (rewrite picks must re-stage: the fold replaced their victims)
    wh.optimize("lab", "cpt")
    wh.create_branch("lab", "cpt", "add2")
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(888, "late")], "id int, src string"),
        batch_id="late", branch="add2",
    )
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(889, "mainline")], "id int, src string"),
        batch_id="late-m",
    )
    out = wh.cherry_pick(
        "lab", "cpt", "add2",
        wh._snapshot_versions("lab", "cpt", "add2")[-1],
    )
    assert out["files_added"] >= 1
    assert wh.read("lab", "cpt").filter(F.col("id") == 888).count() == 1


def test_pick_rewrite_fence_closes_commit_race(cp_table, spark, monkeypatch):
    """Review finding (r10 second pass): the resurrection fence is
    check-then-act — a MoR delete committing BETWEEN the fence check and
    the pick's publish must still refuse (cherry_pick now passes
    rewrite_read_version so commit_snapshot re-validates on the race)."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "race")
    bhead = wh._load_head_light(
        "lab", "cpt", wh._snapshot_versions("lab", "cpt", "race")[-1], "race"
    )
    tdir = wh._tdir("lab", "cpt")
    victim = wh._materialize("lab", "cpt", bhead)["files"][0]["path"]
    vdf = spark.read.parquet(os.path.join(tdir, victim))
    gen = os.path.join(tdir, "data", "rcr", "g_test")
    vdf.filter(F.col("id") != vdf.orderBy("id").first().id).coalesce(
        1
    ).write.mode("error").parquet(gen)
    new = [
        os.path.join(b, fn)
        for b, _d, fns in os.walk(gen)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    wh.commit_snapshot(
        "lab", "cpt", "delete",
        add_files=new, drop_files=[os.path.join(tdir, victim)],
        expected_schema_id=bhead.get("schema_id"), branch="race",
    )
    picked_v = wh._snapshot_versions("lab", "cpt", "race")[-1]
    real_commit = wh.commit_snapshot
    state = {"armed": True}

    def racing_commit(schema, table, operation, **kw):
        if state["armed"] and operation == "cherry_pick":
            state["armed"] = False  # the racing delete commits FIRST
            wh.delete_by_keys("lab", "cpt", [15], eq_cols=["id"])
        return real_commit(schema, table, operation, **kw)

    monkeypatch.setattr(wh, "commit_snapshot", racing_commit)
    with pytest.raises(RuntimeError, match="resurrect"):
        wh.cherry_pick("lab", "cpt", "race", picked_v)
    monkeypatch.undo()
    assert wh.read("lab", "cpt").filter(F.col("id") == 15).count() == 0


def test_duplicate_pick_refused_no_resurrection(cp_table, spark):
    """ADVICE r10 (medium): a second pick of an already-published commit
    must REFUSE — re-stamping the carried entries at a higher seq would
    let an equality delete committed between the two picks silently stop
    applying (reads de-dup by path keeping the HIGHER-seq copy, so the
    deleted rows would resurrect)."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "dup")
    picked_v = _mk_branch_append(
        wh, spark, "dup", [(100 + j, "staged") for j in range(5)], "bd0"
    )
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(900, "mainline")], "id int, src string"),
        batch_id="md0",
    )
    wh.cherry_pick("lab", "cpt", "dup", picked_v)
    assert wh.read("lab", "cpt").count() == 26
    # an eq delete lands on main AFTER the first pick
    wh.delete_by_keys("lab", "cpt", [(101,)], ["id"])
    assert wh.read("lab", "cpt").count() == 25
    # the duplicate pick refuses instead of resurrecting id=101
    with pytest.raises(RuntimeError, match="already published"):
        wh.cherry_pick("lab", "cpt", "dup", picked_v)
    got = wh.read("lab", "cpt")
    assert got.count() == 25
    assert got.filter(F.col("id") == 101).count() == 0
    # and head stats were not inflated by a double-count
    head = wh.head_snapshot("lab", "cpt")
    assert head["total_rows"] == 26  # 25 live + 1 pending MoR delete row


def test_partial_overlap_pick_refused(cp_table, spark):
    """A pick SOME of whose added files are already live on main is a
    torn/out-of-order state — refuse with the partial-overlap message,
    not the already-published one (merge_branch must NOT skip it)."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "torn")
    _mk_branch_append(
        wh, spark, "torn", [(200, "a"), (201, "a")], "bt0"
    )
    picked_v = _mk_branch_append(
        wh, spark, "torn", [(202, "b"), (203, "b")], "bt1"
    )
    # hand-publish ONE of the second commit's entries onto main (a torn
    # earlier pick), then diverge main
    bhead = wh._load_head_light("lab", "cpt", picked_v, "torn")
    parent = wh._load_head_light("lab", "cpt", picked_v - 1, "torn")
    by_p = {e["path"] for e in wh._materialize("lab", "cpt", parent)["files"]}
    added = [
        dict(e)
        for e in wh._materialize("lab", "cpt", bhead)["files"]
        if e["path"] not in by_p
    ]
    assert len(added) >= 1
    wh.commit_snapshot("lab", "cpt", "torn_pick", add_files=[added[0]])
    # first commit picks fine; second refuses on partial overlap
    wh.cherry_pick("lab", "cpt", "torn", picked_v - 1)
    if len(added) > 1:
        with pytest.raises(RuntimeError, match="already live on main"):
            wh.cherry_pick("lab", "cpt", "torn", picked_v)
    else:
        with pytest.raises(RuntimeError, match="already published"):
            wh.cherry_pick("lab", "cpt", "torn", picked_v)


def test_merge_branch_resumes_past_expired_provenance(cp_table, spark):
    """merge_branch resume after the provenance-record history window
    expired: the duplicate-pick fence refuses the re-pick and the merge
    folds it into already_published instead of corrupting or failing."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "res")
    v1 = _mk_branch_append(wh, spark, "res", [(300, "s1")], "br0")
    v2 = _mk_branch_append(wh, spark, "res", [(301, "s2")], "br1")
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(901, "mainline")], "id int, src string"),
        batch_id="mr0",
    )
    # simulate a crash after picking only v1
    wh.cherry_pick("lab", "cpt", "res", v1)
    # provenance record expires out of retained history
    wh.expire_snapshots("lab", "cpt", keep_last=1)
    out = wh.merge_branch("lab", "cpt", "res")
    assert out["strategy"] == "cherry_pick"
    assert v1 in out["already_published"]  # fence-detected, not re-picked
    assert out["picked"] == [v2]
    got = wh.read("lab", "cpt")
    assert got.filter(F.col("id").isin(300, 301)).count() == 2
    assert got.count() == 23


def test_picked_pos_delete_does_not_fool_count_arithmetic(cp_table, spark):
    """Review r11 #1: a cherry-picked pos delete keeps a BRANCH-timeline
    rv_seq while its seq is re-stamped onto main's — left in place, the
    rv could numerically 'cover' a main delete the branch never saw and
    count_rows would subtract one shared victim twice.  The pick strips
    rv_seq, so chains involving picked deletes fall back to the read."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "cnt")
    # inflate the branch seq past main's upcoming delete seq
    _mk_branch_append(wh, spark, "cnt", [(300, "s")], "bc0")
    _mk_branch_append(wh, spark, "cnt", [(301, "s")], "bc1")
    wh.delete_where("lab", "cpt", "id = 3", mode="merge-on-read", branch="cnt")
    picked_v = wh._snapshot_versions("lab", "cpt", "cnt")[-1]
    # main deletes the SAME row on its own timeline
    wh.delete_where("lab", "cpt", "id = 3", mode="merge-on-read")
    wh.cherry_pick("lab", "cpt", "cnt", picked_v)
    dels = wh.delete_files_report("lab", "cpt")
    assert len(dels) == 2  # both pending, one shared victim row
    expect = wh.read("lab", "cpt").count()
    assert expect == 19  # reads de-duplicate the (file,pos) tuple
    assert wh.count_rows("lab", "cpt") == 19  # NOT 18


def test_merge_resumes_after_rollback_undid_the_picks(cp_table, spark):
    """Review r11 #3: rollback undoes published picks, but the pick
    records stay in retained history — the provenance walk must stop at
    the rollback commit or the re-merge would skip the undone commits
    forever (silent data loss)."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "rb")
    v1 = _mk_branch_append(wh, spark, "rb", [(400, "s")], "br0")
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(900, "m")], "id int, src string"),
        batch_id="m0",
    )
    pre_merge = wh._latest_version("lab", "cpt")
    out = wh.merge_branch("lab", "cpt", "rb")
    assert out["picked"] == [v1]
    assert wh.read("lab", "cpt").filter(F.col("id") == 400).count() == 1
    # undo the merge
    wh.rollback_to_snapshot("lab", "cpt", pre_merge)
    assert wh.read("lab", "cpt").filter(F.col("id") == 400).count() == 0
    # the re-merge must RE-PICK, not skip on stale provenance
    out2 = wh.merge_branch("lab", "cpt", "rb")
    assert out2["picked"] == [v1]
    assert out2["already_published"] == []
    assert wh.read("lab", "cpt").filter(F.col("id") == 400).count() == 1


def test_publish_retry_after_rollback_refuses_instead_of_pinning_undone(
    cp_table, spark
):
    """_find_publish flavor of review r11 #3: a publish retry after the
    user rolled the fast-forward back must NOT pin the undone version —
    it surfaces the divergence instead."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "pp")
    _mk_branch_append(wh, spark, "pp", [(500, "s")], "bp0")
    pre = wh._latest_version("lab", "cpt")
    wh.publish_tables({("lab", "cpt"): "pp"})
    wh.rollback_to_snapshot("lab", "cpt", pre)
    with pytest.raises(RuntimeError, match="diverged"):
        wh.publish_tables({("lab", "cpt"): "pp"})


def test_cas_loop_duplicate_add_fence_says_already_published(cp_table):
    """Review r11 #6: the CAS-loop flavor of the duplicate-pick fence
    must carry the same 'already published' marker as the pre-check on
    FULL overlap, so merge_branch's resume dispatch folds both."""
    wh = cp_table
    head = wh.head_snapshot("lab", "cpt")
    live_entry = dict(head["files"][0])
    with pytest.raises(RuntimeError, match="already published"):
        wh.commit_snapshot(
            "lab", "cpt", "x",
            add_files=[live_entry],
            adds_read_version=head["version"] - 1,  # force the re-check
        )


def test_rollback_of_unrelated_commit_keeps_pick_provenance(cp_table, spark):
    """Review r11 second pass #1: a rollback whose TARGET is above a
    pick leaves that pick in effect — the provenance walk must jump to
    rolled_back_to and keep finding the record, or the re-merge would
    re-pick a pure-delete commit at a new top seq and delete rows that
    legitimately survived the first pick."""
    wh = cp_table
    wh.create_branch("lab", "cpt", "sd")
    wh.delete_by_keys("lab", "cpt", [(5,)], ["id"], branch="sd")
    bdel_v = wh._snapshot_versions("lab", "cpt", "sd")[-1]
    wh.append(  # diverge main
        "lab", "cpt",
        spark.createDataFrame([(900, "m")], "id int, src string"),
        batch_id="m0",
    )
    out = wh.merge_branch("lab", "cpt", "sd")
    assert out["picked"] == [bdel_v]
    assert wh.read("lab", "cpt").filter(F.col("id") == 5).count() == 0
    # the key is REVIVED after the pick (higher seq: survives the delete)
    wh.append(
        "lab", "cpt",
        spark.createDataFrame([(5, "revived")], "id int, src string"),
        batch_id="m1",
    )
    good_v = wh._latest_version("lab", "cpt")
    wh.append(  # a bad commit, then undo it
        "lab", "cpt",
        spark.createDataFrame([(999, "bad")], "id int, src string"),
        batch_id="m2",
    )
    wh.rollback_to_snapshot("lab", "cpt", good_v)
    # the re-merge must SKIP the still-effective pick, not replay it
    out2 = wh.merge_branch("lab", "cpt", "sd")
    assert out2["picked"] == []
    assert out2["already_published"] == [bdel_v]
    assert wh.read("lab", "cpt").filter(
        F.col("id") == 5
    ).count() == 1  # the revived row survives
