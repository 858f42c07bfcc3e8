"""Declarative pipeline drains (r18, ``pipeline/dag.py``): a JSON-able
list of stages in topological order, each one maintainer tick — the
operational face of the chaining contract.  Pinned: a DIAMOND pipeline
(feeder -> two value_cols siblings -> join MV) plus a cdc-apply mirror
stage drains to the exact end-to-end truth through churn; the whole
pipeline validates BEFORE any stage runs (unknown kinds/keys, missing
required keys — the silent-no-op refusal class); the mv-drain CLI
prints one JSON line per stage and surfaces refusals with rc 1.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.operators.dedup import keep_latest
from hands_on_iceberg_compression_spark.pipeline.dag import (
    drain_pipeline,
    validate_pipeline,
)
from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
)

SCHEMA = "k int, ts int, event_id int, a int, b int"


def _mk(spark, tmp_path, name):
    wh = ParquetWarehouse(spark, str(tmp_path / name))
    for t in ("src", "mva", "mvb", "mvj", "mirror"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(k, 0, k, k * 10, k * 100) for k in range(6)], SCHEMA
        ),
        batch_id="seed",
    )
    return wh


def _pipeline(d):
    pol = {"max_pending_delete_entries": 4}
    return [
        {"name": "sib_a", "kind": "keep-latest", "src": "lab.src",
         "mv": "lab.mva", "keys": ["k"], "checkpoint": f"{d}/cka.json",
         "value_cols": ["a"], "maintenance_policy": pol},
        {"name": "sib_b", "kind": "keep-latest", "src": "lab.src",
         "mv": "lab.mvb", "keys": ["k"], "checkpoint": f"{d}/ckb.json",
         "value_cols": ["b"], "maintenance_policy": pol},
        {"name": "joined", "kind": "join", "src": "lab.mva",
         "right": "lab.mvb", "mv": "lab.mvj", "keys": ["k"],
         "checkpoint": f"{d}/ckl.json",
         "checkpoint_right": f"{d}/ckr.json"},
        {"name": "mirror", "kind": "cdc-apply", "src": "lab.src",
         "mv": "lab.mirror", "keys": ["k"], "checkpoint": f"{d}/ckm.json",
         "mode": "auto", "maintenance_policy": pol},
    ]


def _expected(wh):
    if wh.is_empty("lab", "src"):
        return []
    return sorted(
        (r["k"], r["a"], r["b"])
        for r in keep_latest(
            wh.read("lab", "src"), ["k"], "ts", "event_id"
        ).collect()
    )


def test_drain_pipeline_diamond_plus_mirror(spark, tmp_path):
    wh = _mk(spark, tmp_path, "dag")
    d = str(tmp_path / "dag_ck")
    stages = _pipeline(d)
    out = drain_pipeline(wh, stages)
    assert [o["stage"] for o in out] == ["sib_a", "sib_b", "joined", "mirror"]
    # cdc-apply bootstrap pass: seed the mirror as documented, then the
    # NEXT drains keep it current
    wh.append("lab", "mirror", wh.read("lab", "src"), batch_id="mseed")
    assert sorted(
        (r["k"], r["a"], r["b"]) for r in wh.read("lab", "mvj").collect()
    ) == _expected(wh)

    # churn: updates, a delete, a fresh key — one drain lands everything
    wh.merge_upsert(
        "lab", "src",
        spark.createDataFrame([(2, 1, 100, 222, 2222)], SCHEMA),
        ["k"], mode="merge-on-read",
    )
    wh.delete_where("lab", "src", "k = 4", mode="merge-on-read")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(9, 1, 101, 90, 900)], SCHEMA),
        batch_id="b1",
    )
    out = drain_pipeline(wh, stages)
    assert sorted(
        (r["k"], r["a"], r["b"]) for r in wh.read("lab", "mvj").collect()
    ) == _expected(wh)
    # the mirror stage fired and converged too
    mirror = sorted(
        (r["k"], r["a"], r["b"]) for r in wh.read("lab", "mirror").collect()
    )
    assert mirror == _expected(wh)
    # an idle drain is cheap and a no-op
    out = drain_pipeline(wh, stages)
    assert all(
        o.get("keys_refreshed", 0) in (0, None) or o["kind"] != "keep-latest"
        for o in out
    )
    # stack-health surface (VERDICT r18 #6): every maintainer stage
    # carries the owned table's zero-job census + whether a fold fired
    for o in out:
        assert set(o["pending_deletes"]) == {"entries", "rows"}
        assert o["fold_fired"] is ("auto_fold" in o)
    assert sorted(
        (r["k"], r["a"], r["b"]) for r in wh.read("lab", "mvj").collect()
    ) == _expected(wh)


def test_validate_pipeline_refusals(spark, tmp_path):
    ok = {"kind": "keep-latest", "src": "a.b", "mv": "a.c",
          "keys": ["k"], "checkpoint": "/tmp/x.json"}
    with pytest.raises(ValueError, match="non-empty list"):
        validate_pipeline([])
    with pytest.raises(ValueError, match="unknown kind"):
        validate_pipeline([{**ok, "kind": "keeplatest"}])
    with pytest.raises(ValueError, match="unknown key"):
        validate_pipeline([{**ok, "value_columns": ["a"]}])
    with pytest.raises(ValueError, match="missing required"):
        validate_pipeline([{k: v for k, v in ok.items() if k != "checkpoint"}])
    with pytest.raises(ValueError, match="order_col"):
        validate_pipeline([{**ok, "kind": "topn"}])
    with pytest.raises(ValueError, match="checkpoint_right"):
        validate_pipeline([{**ok, "kind": "join"}])
    # a stage-3 typo refuses BEFORE stage 1 runs
    wh = ParquetWarehouse(spark, str(tmp_path / "noval"))
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    ok2 = {**ok, "mv": "a.c2", "checkpoint": "/tmp/x2.json"}
    with pytest.raises(ValueError, match="unknown key"):
        drain_pipeline(wh, [ok, ok2, {**ok, "mv": "a.c3", "nope": 1}])
    assert wh._latest_version("a", "b") is None  # nothing ran


def test_validate_pipeline_self_reference_refusals(spark, tmp_path):
    """VERDICT r18 #3: the docstring's self-reference promise, now
    enforced — src == mv (self-feeding loop), join right == mv, and
    two stages maintaining the SAME mv all refuse before any stage
    runs; ADVICE r18: per-kind optional keys (ts_col on an agg stage
    would be silently ignored, so it refuses like any unknown key)."""
    ok = {"kind": "keep-latest", "src": "a.b", "mv": "a.c",
          "keys": ["k"], "checkpoint": "/tmp/x.json"}
    with pytest.raises(ValueError, match="self-feeding"):
        validate_pipeline([{**ok, "mv": "a.b"}])
    with pytest.raises(ValueError, match="self-feeding"):
        validate_pipeline([
            {**ok, "kind": "join", "right": "a.c",
             "checkpoint_right": "/tmp/r.json"},
        ])
    with pytest.raises(ValueError, match="maintained by stage 0"):
        validate_pipeline([ok, {**ok, "kind": "cdc-apply"}])
    # chains and diamonds still validate (an MV as a LATER src is legal)
    validate_pipeline([
        ok,
        {**ok, "src": "a.c", "mv": "a.d", "checkpoint": "/tmp/y.json"},
    ])
    # per-kind optional keys: ts_col means nothing to agg/topn stages
    agg = {"kind": "agg", "src": "a.b", "mv": "a.e", "keys": ["k"],
           "checkpoint": "/tmp/z.json"}
    with pytest.raises(ValueError, match="unknown key.*ts_col"):
        validate_pipeline([{**agg, "ts_col": "ts"}])
    with pytest.raises(ValueError, match="unknown key.*ts_col"):
        validate_pipeline([
            {**agg, "kind": "topn", "order_col": "ts", "ts_col": "ts"},
        ])
    # ...but stays accepted where the maintainer consumes it
    validate_pipeline([{**ok, "ts_col": "ts", "tie_col": "event_id"}])


def test_cli_audit_analysis_exception_refuses(spark, tmp_path, capsys,
                                              monkeypatch):
    """ADVICE r18: a typo'd column INSIDE an expression check's SQL
    (past the 'cols' pre-check) refuses with rc 1, not a traceback;
    and a BranchMovedError from the publish path prints the one-line
    refusal in both CLIs."""
    import hands_on_iceberg_compression_spark.pipeline.audit as audit_mod
    import hands_on_iceberg_compression_spark.pipeline.dag as dag_mod
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        BranchMovedError,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "aerr"))
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "t",
        spark.createDataFrame([(1, 0, 1, 1, 1)], SCHEMA),
        batch_id="seed",
    )
    cf = str(tmp_path / "badchecks.json")
    with open(cf, "w") as f:
        json.dump([{"kind": "expression", "sql": "no_such_col > 0"}], f)
    rc = cli_main([
        "audit", "--warehouse", wh.root, "--schema", "lab",
        "--table", "t", "--checks", cf,
    ])
    err = capsys.readouterr().err
    assert rc == 1 and "audit refused" in err

    def moved(*a, **k):
        raise BranchMovedError("branch moved (test)")

    monkeypatch.setattr(audit_mod, "publish_if_green", moved)
    with open(cf, "w") as f:
        json.dump([{"kind": "not_null", "cols": ["k"]}], f)
    rc = cli_main([
        "audit", "--warehouse", wh.root, "--schema", "lab",
        "--table", "t", "--branch", "s", "--checks", cf, "--publish",
    ])
    err = capsys.readouterr().err
    assert rc == 1 and "publish refused" in err
    monkeypatch.setattr(dag_mod, "publish_if_green", moved)
    pipe = str(tmp_path / "movedpipe.json")
    with open(pipe, "w") as f:
        json.dump([{"kind": "audit-publish", "table": "lab.t",
                    "branch": "s",
                    "checks": [{"kind": "not_null", "cols": ["k"]}]}], f)
    rc = cli_main(["mv-drain", "--warehouse", wh.root, "--pipeline", pipe])
    err = capsys.readouterr().err
    assert rc == 1 and "publish refused" in err


def test_cli_mv_drain(spark, tmp_path, capsys):
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "dagcli")
    d = str(tmp_path / "dagcli_ck")
    pipe = str(tmp_path / "pipe.json")
    with open(pipe, "w") as f:
        json.dump(_pipeline(d)[:3], f)  # the diamond, no mirror
    rc = cli_main(["mv-drain", "--warehouse", wh.root, "--pipeline", pipe])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 3
    assert [json.loads(x)["stage"] for x in out] == [
        "sib_a", "sib_b", "joined",
    ]
    # a malformed pipeline refuses with rc 1 and names the stage
    with open(pipe, "w") as f:
        json.dump([{"kind": "nope"}], f)
    rc = cli_main(["mv-drain", "--warehouse", wh.root, "--pipeline", pipe])
    err = capsys.readouterr().err
    assert rc == 1 and "mv-drain refused" in err and "unknown kind" in err


def test_dag_audit_publish_stage(spark, tmp_path):
    """r18: the WAP gate as a pipeline stage — stage a CDC mirror on a
    BRANCH (cdc-apply tgt_branch), then audit-publish promotes it to
    main only when green.  Red path: a poisoned batch lands on the
    branch (earlier stage's atomic commit stands), the audit stage
    raises, main never sees it; after fixing the branch the re-drain
    publishes."""
    from hands_on_iceberg_compression_spark.pipeline.audit import (
        AuditFailed,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wap"))
    for t in ("src", "m"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(k, 0, k, k, k) for k in range(4)], SCHEMA
        ),
        batch_id="seed",
    )
    # mirror baseline lands on MAIN, the branch forks from it (branches
    # need a snapshot to fork), and cdc-apply stages onto the branch
    wh.append("lab", "m", wh.read("lab", "src"), batch_id="mseed")
    wh.create_branch("lab", "m", "stage")
    d = str(tmp_path / "wap_ck")
    stages = [
        {"name": "mirror", "kind": "cdc-apply", "src": "lab.src",
         "mv": "lab.m", "keys": ["k"], "checkpoint": f"{d}/ck.json",
         "tgt_branch": "stage"},
        {"name": "gate", "kind": "audit-publish", "table": "lab.m",
         "branch": "stage",
         "checks": [{"kind": "not_null", "cols": ["a"], "name": "a_nn"},
                    {"kind": "unique", "cols": ["k"], "name": "pk"}]},
    ]
    # pass 1 bootstraps the cdc checkpoint at the src head; the gate
    # sees a clean zero-divergence branch
    out = drain_pipeline(wh, stages)
    assert out[1]["kind"] == "audit-publish" and out[1]["audit"]["passed"]
    assert sorted(r["k"] for r in wh.read("lab", "m").collect()) == [
        0, 1, 2, 3,
    ]

    # poison: a NULL-valued row reaches src; the mirror stage lands it
    # on the BRANCH, the gate refuses, main stays clean
    wh.append(
        "lab", "src",
        spark.createDataFrame([(9, 1, 100, None, 9)], SCHEMA),
        batch_id="bad",
    )
    main_v = wh._latest_version("lab", "m")
    with pytest.raises(AuditFailed, match="a_nn"):
        drain_pipeline(wh, stages)
    assert wh._latest_version("lab", "m") == main_v  # main untouched
    assert any(  # the staged mirror DID land the row (atomic stage 1)
        r["k"] == 9
        for r in wh.read("lab", "m", "stage").collect()
    )
    # fix the branch, re-drain: cdc-apply is idle, the gate publishes
    fix = wh.read("lab", "m", "stage").filter("k = 9")
    wh.merge_upsert(
        "lab", "m", fix.withColumn("a", F.lit(7).cast("int")), ["k"],
        branch="stage",
    )
    out = drain_pipeline(wh, stages)
    assert out[1]["audit"]["passed"]
    got = {r["k"]: r["a"] for r in wh.read("lab", "m").collect()}
    assert got[9] == 7

    # check typos in a LATER stage refuse before ANY stage runs
    with pytest.raises(ValueError, match="unknown kind"):
        drain_pipeline(wh, stages[:1] + [
            {"kind": "audit-publish", "table": "lab.m", "branch": "stage",
             "checks": [{"kind": "notnull", "cols": ["a"]}]},
        ])


def test_cli_missing_spec_files_refuse_cleanly(spark, capsys):
    """r18 polish: a missing/unreadable --pipeline or --checks file
    refuses with rc 1 and a one-line message, never a traceback."""
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    rc = cli_main([
        "mv-drain", "--warehouse", "/tmp/nowh", "--pipeline", "/tmp/nope.json",
    ])
    err = capsys.readouterr().err
    assert rc == 1 and "mv-drain refused" in err
    rc = cli_main([
        "audit", "--warehouse", "/tmp/nowh", "--schema", "x",
        "--table", "y", "--checks", "/tmp/nope.json",
    ])
    err = capsys.readouterr().err
    assert rc == 1 and "cannot read --checks" in err
