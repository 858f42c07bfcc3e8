"""Iceberg/Nessie BRANCHES (VERDICT r8 #4): named writable refs for
write-audit-publish — the last snapshot-ref primitive next to tags.

The reference outsources this to Nessie (compose/docker-compose.yaml,
compose/trino/catalog/iceberg.properties:12-14 branch config); here a
branch is its own head chain under ``branch_<name>/`` SHARING the
table's segment store and data generations, so fork and publish are
both O(refs) metadata operations.

Contracts pinned:
- staging isolation: branch appends are invisible on main and vice
  versa; the published result matches DuckDB over exactly the staged
  union;
- fast_forward is ONE atomic commit and REFUSES divergence (a main
  commit after the fork);
- concurrent branch/main commit chains interleave without losing rows;
- expiry and the orphan sweep treat branch-referenced files/segments
  as live until drop_branch;
- pending merge-on-read deletes travel through fork and publish;
- ``read_snapshot(..., branch=)`` time-travels a branch's head chain;
- the version hint stays monotone and expiry refreshes it, so a stale
  hint below a tag's version gap cannot make a commit fork history.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def br_table(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "brt", "zstd", 1, properties={"snapshots": "true"})
    for i in range(2):
        wh.append(
            "lab", "brt",
            spark.createDataFrame(
                [(i * 10 + j, f"base{i}") for j in range(10)],
                "id int, src string",
            ),
            batch_id=f"b{i}",
        )
    return wh


def test_write_audit_publish_roundtrip(br_table, spark):
    """Stage a backfill on a branch, validate it there, publish with
    fast_forward — main flips atomically to the validated state, and the
    result matches DuckDB over the staged union."""
    wh = br_table
    fork = wh._latest_version("lab", "brt")
    rec = wh.create_branch("lab", "brt", "audit")
    assert rec["forked_from"] == fork
    # the fork is O(refs): a copied head file, no new segment, no data IO
    staged = [(100 + j, "backfill") for j in range(25)]
    wh.append(
        "lab", "brt",
        spark.createDataFrame(staged, "id int, src string"),
        batch_id="bf0",
        branch="audit",
    )
    # audit leg: branch sees base + staged; main is untouched
    assert wh.read("lab", "brt", branch="audit").count() == 45
    assert wh.read("lab", "brt").count() == 20
    assert wh._latest_version("lab", "brt") == fork
    out = wh.fast_forward("lab", "brt", "audit")
    assert out["published"] == 1
    assert out["version"] == fork + 1
    got = sorted(
        (r.id, r.src) for r in wh.read("lab", "brt").collect()
    )
    files = wh._data_files("lab", "brt")
    con = duckdb.connect()
    expected = con.execute(
        "SELECT id, src FROM read_parquet($files) ORDER BY id",
        {"files": files},
    ).fetchall()
    # dir walk includes every generation; the manifest read must equal
    # the staged union exactly (base 20 + backfill 25)
    assert len(got) == 45
    assert got == sorted((int(i), s) for i, s in expected)


def test_fast_forward_refuses_divergence(br_table, spark):
    wh = br_table
    wh.create_branch("lab", "brt", "risky")
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(900, "staged")], "id int, src string"),
        branch="risky",
    )
    # main moves past the fork point -> histories diverged
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(901, "mainline")], "id int, src string"),
    )
    with pytest.raises(RuntimeError, match="diverged"):
        wh.fast_forward("lab", "brt", "risky")
    # main kept its own row; the branch kept its staging
    assert wh.read("lab", "brt").filter(F.col("id") == 901).count() == 1
    assert wh.read("lab", "brt").filter(F.col("id") == 900).count() == 0
    assert (
        wh.read("lab", "brt", branch="risky")
        .filter(F.col("id") == 900)
        .count()
        == 1
    )


def test_concurrent_branch_and_main_commits_interleave(br_table, spark):
    """Branch and main chains are independent CAS domains: interleaved
    appends land on their own refs, none lost, counts exact."""
    wh = br_table
    wh.create_branch("lab", "brt", "side")
    for i in range(3):
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(500 + i, "m")], "id int, src string"),
            batch_id=f"m{i}",
        )
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(600 + i, "s")], "id int, src string"),
            batch_id=f"s{i}",
            branch="side",
        )
    assert wh.read("lab", "brt").count() == 23  # 20 base + 3 main
    assert wh.read("lab", "brt", branch="side").count() == 23  # +3 side
    info = wh.branches("lab", "brt")["side"]
    assert info["commits"] == 3
    # both diverged -> publish refused, both histories intact
    with pytest.raises(RuntimeError, match="diverged"):
        wh.fast_forward("lab", "brt", "side")


def test_branch_refs_survive_expiry_until_drop(br_table, spark):
    """The ref-retention contract: expiry keeps branch-referenced
    data/segments alive; drop_branch + orphan sweep collects what only
    the branch referenced."""
    wh = br_table
    wh.create_branch("lab", "brt", "keepme")
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(700, "bo")], "id int, src string"),
        batch_id="bonly",
        branch="keepme",
    )
    branch_files = [
        e["path"]
        for e in wh.head_snapshot("lab", "brt", branch="keepme")["files"]
    ]
    # churn main so old main heads expire
    for i in range(3):
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(800 + i, "m")], "id int, src string"),
            batch_id=f"mm{i}",
        )
    wh.expire_snapshots("lab", "brt", keep_last=1)
    wh.remove_orphan_files("lab", "brt", older_than_s=0)
    # the branch still reads completely (its fork-era segments and its
    # own generation survived)
    got = wh.read("lab", "brt", branch="keepme")
    assert got.count() == 21
    assert got.filter(F.col("id") == 700).count() == 1
    tdir = wh._tdir("lab", "brt")
    for rel in branch_files:
        assert os.path.isfile(os.path.join(tdir, rel)), rel
    # drop the branch: its exclusive generation becomes an orphan
    wh.drop_branch("lab", "brt", "keepme")
    wh.remove_orphan_files("lab", "brt", older_than_s=0)
    only_branch = [p for p in branch_files if "/bonly/" in p]
    assert only_branch
    for rel in only_branch:
        assert not os.path.exists(os.path.join(tdir, rel)), rel
    # main never saw the branch rows and still reads clean
    assert wh.read("lab", "brt").count() == 23


def test_pending_mor_deletes_travel_through_publish(br_table, spark):
    """A merge-on-read delete staged on the branch publishes with it —
    the fast-forwarded main head carries the delete set verbatim."""
    wh = br_table
    wh.create_branch("lab", "brt", "gdpr")
    # deletes pending at the fork must survive the fork AND the publish:
    # delete on MAIN before forking, then stage a branch append
    wh.drop_branch("lab", "brt", "gdpr")
    wh.delete_where("lab", "brt", "id IN (3, 14)", mode="merge-on-read")
    wh.create_branch("lab", "brt", "gdpr")
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(950, "s")], "id int, src string"),
        branch="gdpr",
    )
    got = wh.read("lab", "brt", branch="gdpr")
    assert got.count() == 19  # 20 - 2 deleted + 1 staged
    assert got.filter(F.col("id").isin(3, 14)).count() == 0
    wh.fast_forward("lab", "brt", "gdpr")
    got = wh.read("lab", "brt")
    assert got.count() == 19
    assert got.filter(F.col("id").isin(3, 14)).count() == 0
    assert len(wh.delete_files_report("lab", "brt")) == 1


def test_branch_api_guards(br_table, spark):
    wh = br_table
    wh.create_branch("lab", "brt", "dup")
    with pytest.raises(ValueError, match="already exists"):
        wh.create_branch("lab", "brt", "dup")
    with pytest.raises(ValueError, match="no branch"):
        wh.read("lab", "brt", branch="ghost")
    with pytest.raises(ValueError, match="no branch"):
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(1, "x")], "id int, src string"),
            branch="ghost",
        )
    with pytest.raises(ValueError, match="main"):
        wh.drop_branch("lab", "brt", "main")
    with pytest.raises(ValueError, match="default ref"):
        wh.create_branch("lab", "brt", "main")
    # publishing a branch with no commits is a no-op
    out = wh.fast_forward("lab", "brt", "dup")
    assert out["published"] == 0


def test_full_dml_on_branch_stays_isolated(br_table, spark):
    """r10: the whole DML set takes ``branch=`` — stage deletes, updates,
    MoR upserts, and compaction on a branch; main is byte-untouched until
    fast_forward publishes the audited result."""
    wh = br_table
    fork = wh._latest_version("lab", "brt")
    wh.create_branch("lab", "brt", "dml")
    # MoR key delete (tombstones, zero data-file IO) on the branch
    out = wh.merge_upsert(
        "lab", "brt",
        spark.createDataFrame(
            [(0, None, True), (1, None, True)],
            "id int, src string, dead boolean",
        ),
        ["id"], delete_col="dead", mode="merge-on-read", branch="dml",
    )
    assert out["delete_files_added"] == 1
    # MoR position delete on the branch
    wh.delete_where("lab", "brt", "id = 2", mode="merge-on-read", branch="dml")
    # CoW upsert of one key on the branch
    wh.merge_upsert(
        "lab", "brt",
        spark.createDataFrame([(3, "patched")], "id int, src string"),
        ["id"], mode="copy-on-write", branch="dml",
    )
    # MoR upsert batch (update one key + insert one) on the branch
    wh.merge_upsert(
        "lab", "brt",
        spark.createDataFrame(
            [(4, "upserted"), (500, "fresh")], "id int, src string"
        ),
        ["id"], mode="merge-on-read", branch="dml",
    )
    # compaction folds every pending branch delete
    wh.optimize("lab", "brt", branch="dml")
    bh = wh.head_snapshot("lab", "brt", branch="dml")
    assert wh._head_deletes("lab", "brt", bh) == []
    got = {r.id: r.src for r in wh.read("lab", "brt", branch="dml").collect()}
    assert set(got) == (set(range(20)) - {0, 1, 2}) | {500}
    assert got[3] == "patched" and got[4] == "upserted" and got[500] == "fresh"
    # main never moved and still reads the original 20 rows
    assert wh._latest_version("lab", "brt") == fork
    assert wh.read("lab", "brt").count() == 20
    # publish: main flips to the audited state atomically
    wh.fast_forward("lab", "brt", "dml")
    pub = {r.id: r.src for r in wh.read("lab", "brt").collect()}
    assert pub == got


def test_merge_branch_fast_forward_divergent_and_resume(br_table, spark):
    wh = br_table
    # leg 1: main did not move -> merge IS a fast-forward
    wh.create_branch("lab", "brt", "m1")
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(600, "s1")], "id int, src string"),
        batch_id="s1", branch="m1",
    )
    out = wh.merge_branch("lab", "brt", "m1")
    assert out["strategy"] == "fast_forward"
    assert wh.read("lab", "brt").count() == 21
    # leg 2: diverged -> every staged commit cherry-picks in order
    wh.create_branch("lab", "brt", "m2")
    for i in range(3):
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(700 + i, "s2")], "id int, src string"),
            batch_id=f"s2{i}", branch="m2",
        )
    wh.append(  # diverge main
        "lab", "brt",
        spark.createDataFrame([(800, "mainline")], "id int, src string"),
        batch_id="m",
    )
    out = wh.merge_branch("lab", "brt", "m2")
    assert out["strategy"] == "cherry_pick"
    assert len(out["picked"]) == 3
    got = wh.read("lab", "brt")
    assert got.count() == 25
    assert got.filter(F.col("src") == "s2").count() == 3
    # leg 3: resume after a partial merge — pick one commit by hand
    # (simulating a crash mid-merge), then merge_branch skips it
    wh.create_branch("lab", "brt", "m3")
    for i in range(2):
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(900 + i, "s3")], "id int, src string"),
            batch_id=f"s3{i}", branch="m3",
        )
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(801, "mainline")], "id int, src string"),
        batch_id="m2",
    )
    bvers = wh._snapshot_versions("lab", "brt", "m3")
    wh.cherry_pick("lab", "brt", "m3", bvers[1])  # the "crashed" half
    out = wh.merge_branch("lab", "brt", "m3")
    assert out["already_published"] == [bvers[1]]
    assert out["picked"] == [bvers[2]]
    got = wh.read("lab", "brt")
    assert got.filter(F.col("src") == "s3").count() == 2  # no double pick
    assert got.count() == 28


def test_post_publish_eq_delete_reaches_all_branch_commits(br_table, spark):
    """Sequence-number skew regression (r10 review finding #1): branch
    commits advance the SHARED data-sequence counter past the fork, so a
    2-commit branch published by fast_forward leaves entries whose seq
    EXCEEDS main's version counter.  Under the old version-as-seq
    coupling, the first post-publish equality delete (seq = small main
    version) skipped those entries under the strictly-lower-seq rule and
    the rows silently survived.  Heads now carry last_seq and
    fast_forward inherits the branch's counter."""
    wh = br_table
    wh.create_branch("lab", "brt", "two")
    for i in range(2):  # TWO commits: branch seq advances 2 past the fork
        wh.append(
            "lab", "brt",
            spark.createDataFrame(
                [(950 + i, f"stage{i}")], "id int, src string"
            ),
            batch_id=f"t{i}", branch="two",
        )
    wh.fast_forward("lab", "brt", "two")
    assert wh.read("lab", "brt").filter(F.col("id") == 951).count() == 1
    # the very next main commit must out-sequence EVERY carried entry
    out = wh.delete_where("lab", "brt", "id = 951", mode="merge-on-read")
    assert out["delete_files_added"] == 1
    assert wh.read("lab", "brt").filter(F.col("id") == 951).count() == 0
    # and the same through a MoR CDC upsert (the streaming shape): the
    # batch's eq delete must replace the key from the LAST branch commit
    wh.merge_upsert(
        "lab", "brt",
        spark.createDataFrame([(950, "replaced")], "id int, src string"),
        ["id"], mode="merge-on-read",
    )
    got = wh.read("lab", "brt").filter(F.col("id") == 950).collect()
    assert [(r.id, r.src) for r in got] == [(950, "replaced")]


def test_merge_branch_recreated_incarnation_not_skipped(br_table, spark):
    """Review finding #3: a dropped-and-recreated branch at the same fork
    reuses version NUMBERS; old pick records must not mark the new
    incarnation's commits as already published (silent data loss)."""
    wh = br_table
    fork = wh._latest_version("lab", "brt")
    wh.create_branch("lab", "brt", "inc")
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(970, "gen1")], "id int, src string"),
        batch_id="i1", branch="inc",
    )
    wh.append(  # diverge main so merge takes the cherry-pick path
        "lab", "brt",
        spark.createDataFrame([(971, "mainline")], "id int, src string"),
        batch_id="im",
    )
    out = wh.merge_branch("lab", "brt", "inc")
    assert out["picked"]  # gen1 landed via a pick record
    wh.drop_branch("lab", "brt", "inc")
    # SAME name, SAME fork point -> same branch version numbers
    wh.create_branch("lab", "brt", "inc", version=fork)
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(972, "gen2")], "id int, src string"),
        batch_id="i2", branch="inc",
    )
    out = wh.merge_branch("lab", "brt", "inc")
    assert out["picked"], "new incarnation's commit was wrongly skipped"
    assert out["already_published"] == []
    assert wh.read("lab", "brt").filter(F.col("src") == "gen2").count() == 1


def test_branch_time_travel(br_table, spark):
    """``read_snapshot(..., branch=)`` reads a branch's own head chain:
    the fork copy and the staged commit above it."""
    wh = br_table
    wh.create_branch("lab", "brt", "bt")
    v0 = wh._snapshot_versions("lab", "brt", "bt")[-1]
    wh.append(
        "lab", "brt",
        spark.createDataFrame([(700, "staged")], "id int, src string"),
        batch_id="bt0", branch="bt",
    )
    v1 = wh._snapshot_versions("lab", "brt", "bt")[-1]
    assert wh.read_snapshot("lab", "brt", v0, branch="bt").count() == 20
    assert wh.read_snapshot("lab", "brt", v1, branch="bt").count() == 21


def test_stale_hint_below_tag_gap_cannot_fork_history(br_table, spark):
    """Review finding (r10 second pass): tag retention leaves version
    GAPS after expiry; a stale hint at a retained old version must never
    make the next commit CAS into the gap (which would orphan the real
    head).  Table hints are monotone and refreshed by expiry."""
    wh = br_table
    wh.create_tag("lab", "brt", "keep", version=1)
    for i in range(3):
        wh.append(
            "lab", "brt",
            spark.createDataFrame([(800 + i, "x")], "id int, src string"),
            batch_id=f"g{i}",
        )
    head_v = wh._latest_version("lab", "brt")
    # adversarial stale hint at the tagged version, then expiry creates
    # the gap AND refreshes the hint to the true head
    with open(wh._hint_path("lab", "brt"), "w") as f:
        f.write("1")
    wh.expire_snapshots("lab", "brt", keep_last=1)
    assert wh._snapshot_versions("lab", "brt") == [1, head_v]
    with open(wh._hint_path("lab", "brt")) as f:
        assert int(f.read().strip()) == head_v
    assert wh._latest_version("lab", "brt") == head_v
    # monotone: an older racing hint write never lands
    wh._write_hint_file(wh._hint_path("lab", "brt"), 1)
    with open(wh._hint_path("lab", "brt")) as f:
        assert int(f.read().strip()) == head_v
