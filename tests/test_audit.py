"""Write-audit-publish gates (r18, ``pipeline/audit.py``): declarative
quality checks over a staged branch; ``publish_if_green`` merges to
main ONLY when every check passes — a red audit raises with the full
result and main is untouched.  Pinned: every check kind's pass and
fail directions, the one-pass aggregate shape (every check reports
even when an earlier one fails), NULL-predicate-is-a-violation,
row_count_delta against main, publish gating both ways (incl. after
main moved — the cherry-pick publish path), refusal battery, CLI.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.pipeline.audit import (
    AuditFailed,
    audit_table,
    publish_if_green,
)
from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
)

SCHEMA = "doc_id int, text string, score double"


def _mk(spark, tmp_path, name):
    wh = ParquetWarehouse(spark, str(tmp_path / name))
    wh.create_table("lab", "docs", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "docs",
        spark.createDataFrame(
            [(i, f"t{i}", float(i)) for i in range(5)], SCHEMA
        ),
        batch_id="base",
    )
    return wh


CHECKS = [
    {"kind": "not_null", "cols": ["doc_id", "text"]},
    {"kind": "unique", "cols": ["doc_id"], "name": "pk"},
    {"kind": "expression", "sql": "score >= 0", "name": "score>=0"},
    {"kind": "row_count_delta", "min": 0, "max": 100},
]


def test_audit_checks_pass_and_fail(spark, tmp_path):
    wh = _mk(spark, tmp_path, "aud")
    res = audit_table(wh, "lab", "docs", CHECKS)
    assert res["passed"] and res["rows"] == 5
    assert [c["passed"] for c in res["checks"]] == [True] * 4

    # stage a BAD batch on a branch: a null text, a duplicate doc_id,
    # a negative score, and (via volume) a row-delta inside bounds
    wh.create_branch("lab", "docs", "stage")
    wh.append(
        "lab", "docs",
        spark.createDataFrame(
            [(2, None, -1.0), (9, "ok", 3.0)], SCHEMA
        ),
        batch_id="bad", branch="stage",
    )
    res = audit_table(wh, "lab", "docs", CHECKS, branch="stage")
    assert not res["passed"] and res["rows"] == 7
    by = {c["name"]: c for c in res["checks"]}
    # EVERY check reported, not just the first failure
    assert by["not_null:0"]["violations"] == 1
    assert by["not_null:0"]["per_col"] == {"doc_id": 0, "text": 1}
    assert by["pk"]["violations"] == 1 and by["pk"]["duplicate_keys"] == 1
    assert by["score>=0"]["violations"] == 1
    assert by["row_count_delta:3"]["passed"]  # delta 2 in [0, 100]
    assert by["row_count_delta:3"]["delta"] == 2

    # NULL predicate is a violation (the audit cannot prove the row)
    res = audit_table(
        wh, "lab", "docs",
        [{"kind": "expression", "sql": "text like 't%'", "name": "pfx"}],
        branch="stage",
    )
    # the NULL text row (unprovable) AND the staged 'ok' row (plain
    # mismatch) — 2 violations
    assert res["checks"][0]["violations"] == 2

    # row_count_delta catches a truncation (min bound)
    wh.create_branch("lab", "docs", "trunc")
    wh.delete_where("lab", "docs", "doc_id >= 1", branch="trunc")
    res = audit_table(
        wh, "lab", "docs",
        [{"kind": "row_count_delta", "min": 0}], branch="trunc",
    )
    assert not res["passed"] and res["checks"][0]["delta"] == -4


def test_publish_if_green_gates(spark, tmp_path):
    wh = _mk(spark, tmp_path, "gate")
    wh.create_branch("lab", "docs", "stage")
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(2, None, -1.0)], SCHEMA),
        batch_id="bad", branch="stage",
    )
    main_v = wh._latest_version("lab", "docs")
    with pytest.raises(AuditFailed, match="main untouched") as ei:
        publish_if_green(wh, "lab", "docs", "stage", CHECKS)
    assert not ei.value.audit["passed"]
    assert wh._latest_version("lab", "docs") == main_v  # untouched

    # fix the branch (CoW delete of the bad row), gate again -> publishes
    wh.delete_where("lab", "docs", "text IS NULL", branch="stage")
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(9, "good", 1.5)], SCHEMA),
        batch_id="good", branch="stage",
    )
    out = publish_if_green(wh, "lab", "docs", "stage", CHECKS)
    assert out["audit"]["passed"]
    got = sorted(r["doc_id"] for r in wh.read("lab", "docs").collect())
    assert got == [0, 1, 2, 3, 4, 9]

    # main MOVES, then a second staged batch publishes via cherry-pick
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(20, "m", 0.0)], SCHEMA),
        batch_id="main_moves",
    )
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(21, "s", 2.0)], SCHEMA),
        batch_id="staged2", branch="stage",
    )
    out = publish_if_green(wh, "lab", "docs", "stage", CHECKS[:3])
    assert out["publish"]["strategy"] == "cherry_pick"
    got = sorted(r["doc_id"] for r in wh.read("lab", "docs").collect())
    assert got == [0, 1, 2, 3, 4, 9, 20, 21]


def test_audit_refusals(spark, tmp_path):
    wh = _mk(spark, tmp_path, "ref")
    with pytest.raises(ValueError, match="unknown kind"):
        audit_table(wh, "lab", "docs", [{"kind": "notnull", "cols": ["x"]}])
    with pytest.raises(ValueError, match="unknown key"):
        audit_table(
            wh, "lab", "docs",
            [{"kind": "unique", "cols": ["doc_id"], "col": "x"}],
        )
    with pytest.raises(ValueError, match="'sql' is required"):
        audit_table(wh, "lab", "docs", [{"kind": "expression"}])
    with pytest.raises(ValueError, match="boundless"):
        audit_table(wh, "lab", "docs", [{"kind": "row_count_delta"}])
    with pytest.raises(ValueError, match="not in"):
        audit_table(
            wh, "lab", "docs", [{"kind": "not_null", "cols": ["nope"]}]
        )


def test_cli_audit(spark, tmp_path, capsys):
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "cli")
    wh.create_branch("lab", "docs", "stage")
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(7, "x", 1.0)], SCHEMA),
        batch_id="ok", branch="stage",
    )
    cf = str(tmp_path / "checks.json")
    with open(cf, "w") as f:
        json.dump(CHECKS, f)
    rc = cli_main([
        "audit", "--warehouse", wh.root, "--schema", "lab",
        "--table", "docs", "--branch", "stage", "--checks", cf,
    ])
    out = capsys.readouterr().out
    assert rc == 0 and json.loads(out.strip())["passed"]
    # gate + publish in one command
    rc = cli_main([
        "audit", "--warehouse", wh.root, "--schema", "lab",
        "--table", "docs", "--branch", "stage", "--checks", cf,
        "--publish",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and json.loads(out.strip())["audit"]["passed"]
    assert sorted(r["doc_id"] for r in wh.read("lab", "docs").collect()) == [
        0, 1, 2, 3, 4, 7,
    ]
    # a red audit exits 1 and prints the result before the error
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(0, "dup", 1.0)], SCHEMA),
        batch_id="dup", branch="stage",
    )
    rc = cli_main([
        "audit", "--warehouse", wh.root, "--schema", "lab",
        "--table", "docs", "--branch", "stage", "--checks", cf,
        "--publish",
    ])
    cap = capsys.readouterr()
    assert rc == 1 and "audit FAILED" in cap.err
    assert not json.loads(cap.out.strip())["passed"]


def test_audit_empty_state_is_structured(spark, tmp_path):
    """ADVICE r18 medium: an EMPTY audited state (a fully-failed
    extract staged on a branch) must produce a structured audit, not a
    TypeError from NULL aggregate sums."""
    wh = _mk(spark, tmp_path, "empty")
    wh.delete_where("lab", "docs", "doc_id >= 0")  # emptied, committed
    res = audit_table(
        wh, "lab", "docs",
        [
            {"kind": "not_null", "cols": ["doc_id"]},
            {"kind": "unique", "cols": ["doc_id"]},
            {"kind": "expression", "sql": "score >= 0"},
            {"kind": "accepted_values", "col": "text", "values": ["a"]},
        ],
    )
    # zero rows: zero violations everywhere — structurally green
    assert res["passed"] and res["rows"] == 0
    assert [c["violations"] for c in res["checks"]] == [0, 0, 0, 0]
    # the truncation guard is what turns an empty extract red
    res = audit_table(
        wh, "lab", "docs", [{"kind": "row_count_delta", "min": 1}]
    )
    assert not res["passed"]

    # empty STAGED state vs a populated main (the documented bad-ingest
    # case): branch truncated to nothing, gate goes red cleanly
    wh2 = _mk(spark, tmp_path, "empty2")
    wh2.create_branch("lab", "docs", "stage")
    wh2.delete_where("lab", "docs", "doc_id >= 0", branch="stage")
    with pytest.raises(AuditFailed):
        publish_if_green(
            wh2, "lab", "docs", "stage",
            CHECKS + [{"kind": "row_count_delta", "min": 0, "name": "rc"}],
        )


def test_audit_version_pin_refuses_racing_commit(spark, tmp_path):
    """VERDICT r18 #1: the WAP gate publishes EXACTLY the audited
    snapshot — a commit racing onto the branch between audit and
    publish refuses with BranchMovedError and main stays untouched."""
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        BranchMovedError,
    )

    wh = _mk(spark, tmp_path, "pin")
    wh.create_branch("lab", "docs", "stage")
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(7, "x", 1.0)], SCHEMA),
        batch_id="ok", branch="stage",
    )
    res = audit_table(wh, "lab", "docs", CHECKS, branch="stage")
    assert res["version"] == wh.current_version("lab", "docs", "stage")
    # branch moves AFTER the audit -> pinned merge refuses (both the
    # direct merge_branch pin and the fast_forward re-check inside it)
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(8, "race", 2.0)], SCHEMA),
        batch_id="race", branch="stage",
    )
    main_v = wh.current_version("lab", "docs")
    with pytest.raises(BranchMovedError, match="re-audit"):
        wh.merge_branch("lab", "docs", "stage", expected_head=res["version"])
    assert wh.current_version("lab", "docs") == main_v  # untouched

    # the full gate with a race injected at the WORST point — between
    # publish_if_green's audit and its merge_branch call
    class RacyWH(ParquetWarehouse):
        def merge_branch(self, schema, table, name, expected_head=None):
            self.append(
                schema, table,
                spark.createDataFrame([(99, "late", 0.0)], SCHEMA),
                batch_id="late", branch=name,
            )
            return super().merge_branch(
                schema, table, name, expected_head=expected_head
            )

    racy = RacyWH(spark, wh.root)
    with pytest.raises(BranchMovedError):
        publish_if_green(racy, "lab", "docs", "stage", CHECKS)
    assert wh.current_version("lab", "docs") == main_v  # still untouched
    # re-gating picks up BOTH raced rows — now audited — and publishes
    out = publish_if_green(wh, "lab", "docs", "stage", CHECKS)
    assert out["audit"]["version"] == wh.current_version(
        "lab", "docs", "stage"
    )
    got = sorted(r["doc_id"] for r in wh.read("lab", "docs").collect())
    assert got == [0, 1, 2, 3, 4, 7, 8, 99]


def test_accepted_values_check(spark, tmp_path):
    wh = _mk(spark, tmp_path, "av")
    ok = {"kind": "accepted_values", "col": "text",
          "values": ["t0", "t1", "t2", "t3", "t4"], "name": "dict"}
    res = audit_table(wh, "lab", "docs", [ok])
    assert res["passed"] and res["checks"][0]["violations"] == 0
    # an out-of-dictionary value AND a NULL are both violations (the
    # unprovable-row posture; dbt's variant would pass the NULL)
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(5, "zz", 0.0), (6, None, 0.0)], SCHEMA),
        batch_id="bad",
    )
    res = audit_table(wh, "lab", "docs", [ok])
    assert not res["passed"] and res["checks"][0]["violations"] == 2


def test_referential_check(spark, tmp_path):
    wh = _mk(spark, tmp_path, "refl")
    wh.create_table("lab", "dims", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "dims",
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(5)], "id int, label string"
        ),
        batch_id="dims",
    )
    fk = {"kind": "referential", "cols": ["doc_id"],
          "ref_table": "lab.dims", "ref_cols": ["id"], "name": "fk"}
    res = audit_table(wh, "lab", "docs", [fk])
    assert res["passed"] and res["checks"][0]["null_keys"] == 0
    # an orphan FK fails; a NULL key is SKIPPED (SQL MATCH SIMPLE,
    # dbt relationships) but reported as null_keys
    wh.append(
        "lab", "docs",
        spark.createDataFrame([(42, "orphan", 0.0), (None, "nk", 0.0)],
                              SCHEMA),
        batch_id="bad",
    )
    res = audit_table(wh, "lab", "docs", [fk])
    c = res["checks"][0]
    assert not res["passed"] and c["violations"] == 1 and c["null_keys"] == 1
    # refusals: dtype mismatch (int key vs string ref col), ref_cols
    # arity, missing ref column, malformed ref_table, empty values
    with pytest.raises(ValueError, match="dtype mismatch"):
        audit_table(wh, "lab", "docs", [
            {"kind": "referential", "cols": ["doc_id"],
             "ref_table": "lab.dims", "ref_cols": ["label"]},
        ])
    with pytest.raises(ValueError, match="1:1"):
        audit_table(wh, "lab", "docs", [
            {"kind": "referential", "cols": ["doc_id"],
             "ref_table": "lab.dims", "ref_cols": ["id", "label"]},
        ])
    with pytest.raises(ValueError, match="not in lab.dims"):
        audit_table(wh, "lab", "docs", [
            {"kind": "referential", "cols": ["doc_id"],
             "ref_table": "lab.dims", "ref_cols": ["nope"]},
        ])
    with pytest.raises(ValueError, match="schema.table"):
        audit_table(wh, "lab", "docs", [
            {"kind": "referential", "cols": ["doc_id"], "ref_table": "dims"},
        ])
    with pytest.raises(ValueError, match="non-empty list"):
        audit_table(wh, "lab", "docs", [
            {"kind": "accepted_values", "col": "text", "values": []},
        ])
    with pytest.raises(ValueError, match="None is not"):
        audit_table(wh, "lab", "docs", [
            {"kind": "accepted_values", "col": "text", "values": ["a", None]},
        ])


def test_row_shaped_checks_stay_one_pass(spark, tmp_path):
    """accepted_values folds into the single aggregate: the Spark job
    count for a 1-check audit equals the count for a 5-check audit
    (all row-shaped kinds), so check count never adds scans."""
    wh = _mk(spark, tmp_path, "onepass")
    sc = spark.sparkContext

    def jobs(checks, group):
        sc.setJobGroup(group, group)
        audit_table(wh, "lab", "docs", checks)
        sc.setJobGroup("other", "other")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    few = jobs([{"kind": "not_null", "cols": ["doc_id"]}], "aud_few")
    many = jobs(
        [
            {"kind": "not_null", "cols": ["doc_id", "text"]},
            {"kind": "expression", "sql": "score >= 0"},
            {"kind": "expression", "sql": "doc_id < 100"},
            {"kind": "accepted_values", "col": "doc_id",
             "values": [0, 1, 2, 3, 4]},
            {"kind": "accepted_values", "col": "text",
             "values": ["t0", "t1", "t2", "t3", "t4"]},
        ],
        "aud_many",
    )
    assert few == many


def _heal(wh):
    """Set every NULL ``text`` on the stage branch to 'healed'."""
    bad = wh.read("lab", "docs", "stage").filter("text IS NULL")
    wh.merge_upsert(
        "lab", "docs", bad.withColumn("text", F.lit("healed")), ["doc_id"],
        branch="stage",
    )


def test_publish_pin_randomized_races(spark, tmp_path):
    """Randomized WAP-race net (VERDICT r18 #1 done-criterion): across
    a random mix of good/bad staged batches and races injected at the
    worst point (between publish_if_green's audit and its merge), the
    invariant holds — EITHER the publish succeeds and main equals the
    audited branch state, OR a typed refusal (AuditFailed /
    BranchMovedError) leaves main byte-identical; re-gating after a
    race always converges."""
    import random

    from hands_on_iceberg_compression_spark.sources.warehouse import (
        BranchMovedError,
    )

    rng = random.Random(1937)
    wh = _mk(spark, tmp_path, "rndpin")
    wh.create_branch("lab", "docs", "stage")

    class RacyWH(ParquetWarehouse):
        race_next = False

        def merge_branch(self, schema, table, name, expected_head=None):
            if RacyWH.race_next:
                RacyWH.race_next = False
                self.append(
                    schema, table,
                    spark.createDataFrame(
                        [(1000 + rng.randrange(1000), "raced", 1.0)],
                        SCHEMA,
                    ),
                    batch_id=f"race{rng.randrange(1 << 30)}",
                    branch=name,
                )
            return super().merge_branch(
                schema, table, name, expected_head=expected_head
            )

    racy = RacyWH(spark, wh.root)
    checks = [{"kind": "not_null", "cols": ["text"], "name": "nn"}]
    next_id = 50
    for _ in range(8):
        bad = rng.random() < 0.4
        racing = rng.random() < 0.5
        wh.append(
            "lab", "docs",
            spark.createDataFrame(
                [(next_id, None if bad else f"t{next_id}", 1.0)], SCHEMA
            ),
            batch_id=f"s{next_id}", branch="stage",
        )
        next_id += 1
        RacyWH.race_next = racing
        main_v = wh.current_version("lab", "docs")
        try:
            out = publish_if_green(racy, "lab", "docs", "stage", checks)
        except AuditFailed:
            assert wh.current_version("lab", "docs") == main_v
            # heal the branch so later iterations can go green
            _heal(wh)
        except BranchMovedError:
            assert racing
            assert wh.current_version("lab", "docs") == main_v
        else:
            # published: main state == the audited branch snapshot
            assert out["publish"]["version"] == wh.current_version(
                "lab", "docs"
            )
        RacyWH.race_next = False
    # final convergence: one clean gate publishes everything staged
    while True:
        try:
            publish_if_green(wh, "lab", "docs", "stage", checks)
            break
        except AuditFailed:
            _heal(wh)
    got = sorted(r["doc_id"] for r in wh.read("lab", "docs").collect())
    want = sorted(
        r["doc_id"] for r in wh.read("lab", "docs", "stage").collect()
    )
    assert got == want
