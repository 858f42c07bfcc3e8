"""Changelog-driven incremental materialized view (VERDICT r11 #6):
``maintain_keep_latest_mv`` — the batch-CDC twin of the streaming
keep-latest sink.  Convergence contract, pinned over RANDOMIZED DML
sequences: after ticking the maintainer to the source head, the MV
equals the batch recompute ``keep_latest(read(source))`` exactly —
whatever mix of appends, CoW/MoR deletes, updates, CDC upserts, and
compactions produced the source state.  At-least-once composition is
pinned too: re-delivering an already-applied window leaves the MV
unchanged."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.operators.dedup import keep_latest
from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
    maintain_keep_latest_mv,
)
from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
)

SCHEMA = "k int, ts int, eid int, v int"


def _mk(spark, tmp_path, name):
    wh = ParquetWarehouse(spark, str(tmp_path / name))
    wh.create_table("lab", "src", "zstd", 1, properties={"snapshots": "true"})
    wh.create_table("lab", "mv", "zstd", 1, properties={"snapshots": "true"})
    return wh


def _tick(wh, ckpt):
    return maintain_keep_latest_mv(
        wh, ("lab", "src"), ("lab", "mv"), ["k"],
        ts_col="ts", tie_col="eid", checkpoint_file=ckpt,
    )


def _mv_rows(wh):
    return sorted(
        (r["k"], r["ts"], r["eid"], r["v"])
        for r in wh.read("lab", "mv").collect()
    )


def _expected(wh):
    if wh.is_empty("lab", "src"):
        return []
    return sorted(
        (r["k"], r["ts"], r["eid"], r["v"])
        for r in keep_latest(wh.read("lab", "src"), ["k"], "ts", "eid").collect()
    )


def test_scripted_lifecycle_and_at_least_once(spark, tmp_path):
    wh = _mk(spark, tmp_path, "s1")
    ckpt = str(tmp_path / "s1" / "ck.json")
    # bootstrap BEFORE any source commit: nothing to do
    with pytest.raises(ValueError, match="no snapshot"):
        _tick(wh, ckpt)
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(1, 10, 1, 100), (1, 20, 2, 101), (2, 10, 3, 200)], SCHEMA
        ),
        batch_id="b0",
    )
    # first tick = BOOTSTRAP: full refresh (the changelog cannot replay
    # from before the first retained snapshot), checkpoint lands at head
    out = _tick(wh, ckpt)
    assert out["delivered"] is False and out["keys_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh) == [(1, 20, 2, 101), (2, 10, 3, 200)]
    # newer version of key 1 + a brand-new key
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 30, 4, 102), (3, 5, 5, 300)], SCHEMA),
        batch_id="b1",
    )
    # the current MAX of key 2 is deleted -> the MV must fall back to
    # the surviving older row (the arg-max case row-deltas can't serve)
    wh.append(
        "lab", "src",
        spark.createDataFrame([(2, 50, 6, 201)], SCHEMA),
        batch_id="b2",
    )
    wh.delete_where("lab", "src", "eid = 6", mode="merge-on-read")
    _tick(wh, ckpt)
    assert _mv_rows(wh) == _expected(wh)
    assert (2, 10, 3, 200) in _mv_rows(wh)
    # a key vanishes entirely -> tombstoned out of the MV
    wh.delete_where("lab", "src", "k = 3")
    _tick(wh, ckpt)
    assert _mv_rows(wh) == _expected(wh)
    assert all(r[0] != 3 for r in _mv_rows(wh))
    # at-least-once: re-deliver the whole history; the MV is unchanged
    before = _mv_rows(wh)
    with open(ckpt, "w") as f:
        json.dump({"version": 1, "branch": "main"}, f)
    _tick(wh, ckpt)
    assert _mv_rows(wh) == before
    # maintenance-only window: zero refreshes, checkpoint advances
    wh.optimize("lab", "src")
    out = _tick(wh, ckpt)
    assert out["delivered"] is False and out["keys_refreshed"] == 0
    assert _mv_rows(wh) == _expected(wh)


def test_bloom_pruned_refresh_converges_identically(spark, tmp_path, monkeypatch):
    """VERDICT r13 #6: small-window ticks route the refresh's source
    read through manifest pruning (bounds + bloom membership).  Pruning
    is conservative and the touched-keys semi-join stays the exact
    filter, so the MV must converge IDENTICALLY with pruning on, and
    with it forced off (threshold 0) — and the pruned path must actually
    be taken."""
    import hands_on_iceberg_compression_spark.pipeline.incremental_mv as mv_mod

    wh = ParquetWarehouse(spark, str(tmp_path / "bl"))
    wh.create_table(
        "lab", "src", "zstd", 1,
        properties={"snapshots": "true", "bloom_columns": "k"},
    )
    wh.create_table("lab", "mv", "zstd", 1, properties={"snapshots": "true"})
    # interleaved keys across files: every file's [min, max] spans the
    # keyspace, so only bloom membership can skip files
    for b in range(6):
        rows = [(b + j * 6, 0, b * 1000 + j, b) for j in range(50)]
        wh.append(
            "lab", "src",
            spark.createDataFrame(rows, SCHEMA).coalesce(1),
            batch_id=f"b{b}",
        )
    ckpt = str(tmp_path / "bl" / "ck.json")
    _tick(wh, ckpt)  # bootstrap
    assert _mv_rows(wh) == _expected(wh)
    # blooms discriminate on this shape: 2 keys live in <= 2 base files
    kept, total = wh.prune_files("lab", "src", {"k": [7, 20]})
    assert len(kept) < total
    calls = [0]
    real_rp = wh.read_pruned

    def counting_rp(*a, **kw):
        calls[0] += 1
        return real_rp(*a, **kw)

    monkeypatch.setattr(wh, "read_pruned", counting_rp)
    # small-window epochs: newer versions of 2 keys + a delete
    wh.append(
        "lab", "src",
        spark.createDataFrame([(7, 10, 9001, 70), (20, 10, 9002, 200)], SCHEMA),
        batch_id="e1",
    )
    _tick(wh, ckpt)
    assert calls[0] == 1  # pruned path taken
    assert _mv_rows(wh) == _expected(wh)
    wh.delete_where("lab", "src", "k = 7", mode="merge-on-read")
    _tick(wh, ckpt)
    assert calls[0] == 2
    assert _mv_rows(wh) == _expected(wh)
    assert all(r[0] != 7 for r in _mv_rows(wh))
    # forced-off path (threshold 0) converges to the same state
    monkeypatch.setattr(mv_mod, "_MV_PRUNE_KEYS_MAX", 0)
    wh.append(
        "lab", "src",
        spark.createDataFrame([(20, 11, 9003, 201)], SCHEMA),
        batch_id="e2",
    )
    _tick(wh, ckpt)
    assert calls[0] == 2  # full read this time
    assert _mv_rows(wh) == _expected(wh)
    assert (20, 11, 9003, 201) in _mv_rows(wh)


def test_reconcile_commits_before_checkpoint(spark, tmp_path, monkeypatch):
    """ADVICE r13: same ordering contract as the aggregate MV — the
    lost-checkpoint reconcile commits the MV BEFORE the checkpoint is
    reinitialized, so a crash inside the reconcile leaves no checkpoint
    and the next tick re-enters bootstrap (keep-latest has no watermark
    to DETECT a stranded checkpoint after the fact, so the ordering is
    its only line of defense)."""
    import os

    wh = _mk(spark, tmp_path, "ord")
    ckpt = str(tmp_path / "ord" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 10, 1, 100), (2, 10, 2, 200)], SCHEMA),
        batch_id="b0",
    )
    _tick(wh, ckpt)
    want = _mv_rows(wh)
    os.unlink(ckpt)
    wh.append(
        "lab", "src",
        spark.createDataFrame([(3, 5, 3, 300)], SCHEMA),
        batch_id="b1",
    )
    with monkeypatch.context() as m:
        m.setattr(
            wh, "merge_upsert",
            lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
        )
        with pytest.raises(RuntimeError, match="crash"):
            _tick(wh, ckpt)
    assert not os.path.exists(ckpt)  # no commit -> no checkpoint
    assert _mv_rows(wh) == want
    out = _tick(wh, ckpt)  # re-enters bootstrap and heals
    assert out["keys_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh)
    assert (3, 5, 3, 300) in _mv_rows(wh)


DML = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "mor_delete", "cow_delete", "update", "upsert",
             "optimize", "tick"]
        ),
        st.integers(0, 9),
    ),
    min_size=3,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(ops=DML)
def test_randomized_dml_converges(spark, tmp_path_factory, ops):
    wh = _mk(spark, tmp_path_factory.mktemp("mvrand"), "r")
    ckpt = str(tmp_path_factory.mktemp("mvrand") / "ck.json")
    eid = 0
    wh.append(
        "lab", "src",
        spark.createDataFrame([(k, 0, k, k) for k in range(4)], SCHEMA),
        batch_id="seed",
    )
    for op, pick in ops:
        eid += 1
        if op == "append":
            wh.append(
                "lab", "src",
                spark.createDataFrame(
                    [(pick % 5, eid * 10, eid, pick)], SCHEMA
                ),
                batch_id=f"b{eid}",
            )
        elif op == "mor_delete":
            wh.delete_where(
                "lab", "src", f"k = {pick % 5}", mode="merge-on-read"
            )
        elif op == "cow_delete":
            wh.delete_where("lab", "src", f"eid = {pick}")
        elif op == "update":
            if wh.is_empty("lab", "src"):
                continue
            wh.update_where(
                "lab", "src", f"k = {pick % 5}", {"v": "v + 1000"}
            )
        elif op == "upsert":
            wh.merge_upsert(
                "lab", "src",
                spark.createDataFrame(
                    [(pick % 5, eid * 10, eid, pick + 1)], SCHEMA
                ),
                ["k", "eid"], mode="merge-on-read",
            )
        elif op == "optimize":
            wh.optimize("lab", "src")
        else:
            _tick(wh, ckpt)
    # drain the log, then the MV must equal the batch recompute exactly
    _tick(wh, ckpt)
    assert _mv_rows(wh) == _expected(wh)


def test_bootstrap_crash_between_checkpoint_and_refresh(spark, tmp_path):
    """ADVICE r12 (medium): a crash between consume_changes' checkpoint
    init and the bootstrap full refresh used to leave the checkpoint in
    place over an EMPTY MV — every later tick saw bootstrap=False and
    went incremental-only, so pre-existing source rows never reached the
    MV.  Bootstrap now also fires whenever the MV has no committed
    snapshot, and the MV only transitions to committed via the full
    refresh path (process() skips writes on bootstrap ticks)."""
    wh = _mk(spark, tmp_path, "cr")
    ckpt = str(tmp_path / "cr" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(1, 10, 1, 100), (2, 10, 2, 200)], SCHEMA
        ),
        batch_id="b0",
    )
    # simulate the crash: the checkpoint is initialized at the current
    # head (exactly what the maintainer's consume_changes call does
    # first) but the bootstrap refresh never ran — MV is empty
    wh.consume_changes("lab", "src", ckpt, lambda ch: None)
    assert wh.is_empty("lab", "mv")
    # source advances past the checkpointed head, so the recovery tick
    # also has a non-empty changelog window to (correctly) skip
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 20, 3, 101), (3, 5, 4, 300)], SCHEMA),
        batch_id="b1",
    )
    out = _tick(wh, ckpt)
    assert out["keys_refreshed"] == -1  # full refresh, not incremental
    assert _mv_rows(wh) == _expected(wh) == [
        (1, 20, 3, 101), (2, 10, 2, 200), (3, 5, 4, 300),
    ]
    # steady state afterwards: plain incremental ticks
    wh.append(
        "lab", "src",
        spark.createDataFrame([(2, 30, 5, 201)], SCHEMA),
        batch_id="b2",
    )
    out = _tick(wh, ckpt)
    assert out["keys_refreshed"] == 1
    assert _mv_rows(wh) == _expected(wh)


def test_merge_upsert_binary_key(spark, tmp_path):
    """ADVICE r15: binary key columns collect as bytearray (unhashable)
    — they must route to the Spark-aggregate stats path instead of the
    driver-side Counter, end to end through a MoR upsert."""
    wh = ParquetWarehouse(spark, str(tmp_path / "bin"))
    wh.create_table(
        "lab", "t", "zstd", 1, properties={"snapshots": "true"}
    )
    schema = "k binary, ts int, eid int, v int"
    wh.append(
        "lab", "t",
        spark.createDataFrame([(bytearray(b"a"), 1, 1, 10)], schema),
        batch_id="b0",
    )
    wh.merge_upsert(
        "lab", "t",
        spark.createDataFrame(
            [(bytearray(b"a"), 2, 2, 11), (bytearray(b"b"), 1, 3, 20)],
            schema,
        ),
        ["k"], mode="merge-on-read",
    )
    got = sorted(
        (bytes(r["k"]), r["v"]) for r in wh.read("lab", "t").collect()
    )
    assert got == [(b"a", 11), (b"b", 20)]


def test_cli_mv_report(spark, tmp_path, capsys):
    """`python -m ... mv-report` (VERDICT r15 #6): per-source lag vs
    the checkpoint + MV state, from metadata alone."""
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "rep")
    ckpt = str(tmp_path / "rep" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 10, 1, 100), (2, 10, 2, 200)], SCHEMA),
        batch_id="b0",
    )
    _tick(wh, ckpt)
    # source moves past the checkpoint: lag becomes visible
    wh.append(
        "lab", "src",
        spark.createDataFrame([(3, 10, 3, 300)], SCHEMA),
        batch_id="b1",
    )
    rc = cli_main([
        "mv-report", "--warehouse", wh.root,
        "--source", "lab.src", "--checkpoint", ckpt,
        "--mv", "lab.mv",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "source lab.src:" in out
    assert "lag=1 commit(s)" in out
    assert "pending_rows_est=1" in out
    assert "mv lab.mv:" in out and "rows=2" in out
    assert "files=" in out  # r19: fragmentation census on the same head
    assert "auto_mode=copy-on-write" in out

    # missing checkpoint reads as bootstrap-pending, not an error
    rc = cli_main([
        "mv-report", "--warehouse", wh.root,
        "--source", "lab.src",
        "--checkpoint", str(tmp_path / "rep" / "nope.json"),
        "--mv", "lab.mv",
    ])
    assert rc == 0
    assert "bootstrap pending" in capsys.readouterr().out

    # mismatched pair counts refuse
    rc = cli_main([
        "mv-report", "--warehouse", wh.root,
        "--source", "lab.src", "--mv", "lab.mv",
    ])
    assert rc == 1


def test_keep_latest_auto_mode_small_mv_stays_cow(spark, tmp_path):
    """r16: every maintainer accepts mode='auto' through the shared
    resolver — a metadata-provably small keep-latest MV ticks
    copy-on-write (no MoR delete stack accumulates on the MV)."""
    wh = _mk(spark, tmp_path, "klauto")
    ckpt = str(tmp_path / "klauto" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(k, 0, k, k) for k in range(8)], SCHEMA),
        batch_id="seed",
    )

    def tick():
        return maintain_keep_latest_mv(
            wh, ("lab", "src"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid", checkpoint_file=ckpt,
            mode="auto",
        )

    tick()  # bootstrap
    for e in range(3):
        wh.merge_upsert(
            "lab", "src",
            spark.createDataFrame([(e, e + 1, 100 + e, 7)], SCHEMA),
            ["k"], mode="merge-on-read",
        )
        tick()
    head = wh.head_snapshot("lab", "mv")
    assert not head.get("deletes")  # CoW ticks left no delete stack
    assert _mv_rows(wh) == _expected(wh)


def test_maintain_from_branch_source(spark, tmp_path):
    """r16: src_branch pulls the changelog from a SOURCE BRANCH (the
    staging workflow) — the MV tracks the branch's keep-latest state,
    commits landing only on main stay invisible, and the checkpoint
    records the ref (a later main-ref pull against it refuses)."""
    wh = _mk(spark, tmp_path, "brsrc")
    ckpt = str(tmp_path / "brsrc" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 10, 1, 100), (2, 10, 2, 200)], SCHEMA),
        batch_id="b0",
    )
    wh.create_branch("lab", "src", "stage")

    def tick():
        return maintain_keep_latest_mv(
            wh, ("lab", "src"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid", checkpoint_file=ckpt,
            src_branch="stage",
        )

    tick()  # bootstrap from the branch head (== fork state)
    assert _mv_rows(wh) == [(1, 10, 1, 100), (2, 10, 2, 200)]
    # branch DML is visible to the maintainer; main DML is NOT
    wh.merge_upsert(
        "lab", "src",
        spark.createDataFrame([(1, 20, 3, 111), (3, 5, 4, 300)], SCHEMA),
        ["k"], mode="merge-on-read", branch="stage",
    )
    wh.append(
        "lab", "src",
        spark.createDataFrame([(9, 99, 9, 900)], SCHEMA),
        batch_id="main_only",
    )
    out = tick()
    assert out["delivered"] is True and out["keys_refreshed"] == 2
    got = _mv_rows(wh)
    assert (1, 20, 3, 111) in got and (3, 5, 4, 300) in got
    assert all(k != 9 for k, *_ in got)  # main-only commit invisible
    # branch recompute equality
    want = sorted(
        (r["k"], r["ts"], r["eid"], r["v"])
        for r in keep_latest(
            wh.read("lab", "src", "stage"), ["k"], "ts", "eid"
        ).collect()
    )
    assert got == want
    # the checkpoint records the ref: a main-ref pull refuses
    with pytest.raises(ValueError, match="tracks ref"):
        maintain_keep_latest_mv(
            wh, ("lab", "src"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid", checkpoint_file=ckpt,
        )


def test_agg_mv_from_branch_source(spark, tmp_path):
    """r16: the aggregate maintainer's src_branch threads through the
    recompute, the gap check, and the incremental pull."""
    from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
        maintain_agg_mv,
    )

    wh = _mk(spark, tmp_path, "bragg")
    ckpt = str(tmp_path / "bragg" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(k % 2, 0, k, k * 10) for k in range(6)], SCHEMA
        ),
        batch_id="b0",
    )
    wh.create_branch("lab", "src", "stage")

    def tick():
        return maintain_agg_mv(
            wh, ("lab", "src"), ("lab", "mv"), ["k"], sum_cols=["v"],
            checkpoint_file=ckpt, src_branch="stage",
        )

    tick()  # bootstrap
    wh.append(
        "lab", "src",
        spark.createDataFrame([(0, 1, 100, 7), (0, 1, 101, 3)], SCHEMA),
        batch_id="b1", branch="stage",
    )
    wh.append(  # main-only: must not reach the MV
        "lab", "src",
        spark.createDataFrame([(1, 1, 102, 1000)], SCHEMA),
        batch_id="main_only",
    )
    out = tick()
    assert out["delivered"] is True
    got = {
        r["k"]: (r["cnt"], r["sum_v"])
        for r in wh.read("lab", "mv").collect()
    }
    want = {
        r["k"]: (r["cnt"], r["sum_v"])
        for r in wh.read("lab", "src", "stage")
        .groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want
    assert got[0][0] == 5  # 3 seed rows in group 0 + 2 branch rows


def test_cli_mv_report_branch_checkpoint(spark, tmp_path, capsys):
    """r16 review fix pin: mv-report computes lag against the head of
    the REF the checkpoint tracks, not main."""
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "repbr")
    ckpt = str(tmp_path / "repbr" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 10, 1, 100)], SCHEMA),
        batch_id="b0",
    )
    wh.create_branch("lab", "src", "stage")
    maintain_keep_latest_mv(
        wh, ("lab", "src"), ("lab", "mv"), ["k"],
        ts_col="ts", tie_col="eid", checkpoint_file=ckpt,
        src_branch="stage",
    )
    # main advances TWO commits; the branch advances ONE — a main-head
    # lag would read 2 here, the branch-head lag is 1
    wh.append(
        "lab", "src",
        spark.createDataFrame([(7, 1, 7, 700)], SCHEMA),
        batch_id="m1",
    )
    wh.append(
        "lab", "src",
        spark.createDataFrame([(8, 1, 8, 800)], SCHEMA),
        batch_id="m2",
    )
    # the branch commit adds THREE rows where main's same-numbered
    # commit added one — pending_rows_est must come from the BRANCH's
    # head chain (ADVICE r16: it used to walk main's)
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(2, 1, 2, 200), (3, 1, 3, 300), (4, 1, 4, 400)], SCHEMA
        ),
        batch_id="s1", branch="stage",
    )
    rc = cli_main([
        "mv-report", "--warehouse", wh.root,
        "--source", "lab.src", "--checkpoint", ckpt,
        "--mv", "lab.mv",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "(branch stage)" in out
    assert "lag=1 commit(s)" in out
    assert "pending_rows_est=3" in out

def test_checkpoint_aware_retention(spark, tmp_path, capsys):
    """VERDICT r16 #2: ``expire_snapshots(retain_checkpoints=)`` keeps
    every version >= the oldest registered consumer checkpoint, so
    expiry can never strand a lagging MV.  Pins the whole arc: without
    the guard mv-report flags the wedge BEFORE the pull, the pull
    refuses loudly, and a deliberate checkpoint reset recovers via
    reconcile; with the guard the lagging consumer catches up
    incrementally."""
    import os

    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    # --- unguarded: expiry inside the window wedges --------------------
    wh = _mk(spark, tmp_path, "ret_u")
    ckpt = str(tmp_path / "ret_u" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10)], SCHEMA), batch_id="b0",
    )
    _tick(wh, ckpt)  # checkpoint at v1
    for i in range(2, 5):
        wh.append(
            "lab", "src",
            spark.createDataFrame([(i, i, i, i * 10)], SCHEMA),
            batch_id=f"b{i}",
        )
    removed = wh.expire_snapshots("lab", "src", keep_last=1)
    assert removed == 3  # v1..v3 gone; the next window is poisoned
    rc = cli_main([
        "mv-report", "--warehouse", wh.root,
        "--source", "lab.src", "--checkpoint", ckpt, "--mv", "lab.mv",
    ])
    out = capsys.readouterr().out
    assert rc == 1 and "WEDGED" in out and "[1, 2, 3]" in out
    with pytest.raises(Exception):
        _tick(wh, ckpt)  # the refusal surfaces, MV untouched
    # documented recovery: deliberate checkpoint reset -> full reconcile
    os.unlink(ckpt)
    res = _tick(wh, ckpt)
    assert res["keys_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh)

    # --- guarded: the floor retains the consumer's whole window --------
    wh2 = _mk(spark, tmp_path, "ret_g")
    ckpt2 = str(tmp_path / "ret_g" / "ck.json")
    wh2.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10)], SCHEMA), batch_id="b0",
    )
    _tick(wh2, ckpt2)  # checkpoint at v1
    for i in range(2, 5):
        wh2.append(
            "lab", "src",
            spark.createDataFrame([(i, i, i, i * 10)], SCHEMA),
            batch_id=f"b{i}",
        )
    # directory form: every *.json inside registers; nothing expires
    # because the oldest checkpoint pins v1
    removed = wh2.expire_snapshots(
        "lab", "src", keep_last=1,
        retain_checkpoints=[os.path.dirname(ckpt2)],
    )
    assert removed == 0
    rc = cli_main([
        "mv-report", "--warehouse", wh2.root,
        "--source", "lab.src", "--checkpoint", ckpt2, "--mv", "lab.mv",
    ])
    assert rc == 0 and "WEDGED" not in capsys.readouterr().out
    res = _tick(wh2, ckpt2)  # incremental catch-up, not a reconcile
    assert res["keys_refreshed"] == 3
    assert _mv_rows(wh2) == _expected(wh2)
    # once the consumer advances, the floor moves with it
    removed = wh2.expire_snapshots(
        "lab", "src", keep_last=1, retain_checkpoints=[ckpt2]
    )
    assert removed == 3

    # --- guard edge cases ----------------------------------------------
    # a MISSING checkpoint registers no floor (un-bootstrapped consumer)
    wh2.append(
        "lab", "src",
        spark.createDataFrame([(9, 9, 9, 90)], SCHEMA), batch_id="b9",
    )
    assert wh2.expire_snapshots(
        "lab", "src", keep_last=1,
        retain_checkpoints=[str(tmp_path / "ret_g" / "nope.json")],
    ) == 1
    # an UNPARSABLE registered file refuses (data-loss direction)
    bad = str(tmp_path / "ret_g" / "bad.json")
    with open(bad, "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="not a"):
        wh2.expire_snapshots(
            "lab", "src", keep_last=1, retain_checkpoints=[bad]
        )

def test_retention_hardening(spark, tmp_path, capsys):
    """VERDICT r17 #2: the silent-no-op paths of retain_checkpoints are
    closed — an EMPTY registered directory refuses (a typo'd dir read
    as 'protected' while expiry proceeded unconstrained), a missing
    FILE warns (un-bootstrapped consumer stays legal; strict refuses),
    expire_plan/--dry-run list victims without removing, and the
    expire CLI prints the resolved floor before acting."""
    import os
    import warnings

    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "ret_h")
    ckpt = str(tmp_path / "ret_h" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10)], SCHEMA), batch_id="b0",
    )
    _tick(wh, ckpt)  # checkpoint at v1
    for i in range(2, 5):
        wh.append(
            "lab", "src",
            spark.createDataFrame([(i, i, i, i * 10)], SCHEMA),
            batch_id=f"b{i}",
        )

    # EMPTY registered directory refuses (and a trailing-separator
    # missing dir does too) — before the fix both registered nothing
    empty = tmp_path / "ret_h" / "empty_ckpts"
    empty.mkdir()
    with pytest.raises(ValueError, match="no \\*\\.json"):
        wh.expire_snapshots(
            "lab", "src", keep_last=1, retain_checkpoints=[str(empty)]
        )
    with pytest.raises(ValueError, match="does not exist"):
        wh.expire_snapshots(
            "lab", "src", keep_last=1,
            retain_checkpoints=[str(tmp_path / "ret_h" / "nodir") + os.sep],
        )
    # nothing was removed by the refusals
    assert len(wh._snapshot_versions("lab", "src")) == 4

    # missing FILE: warns by default, refuses under strict
    missing = str(tmp_path / "ret_h" / "unbootstrapped.json")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        plan = wh.expire_plan(
            "lab", "src", keep_last=1, retain_checkpoints=[missing]
        )
    assert any("registers NO retention floor" in str(x.message) for x in w)
    assert plan["checkpoints"] == 0 and plan["ckpt_floor"] is None
    with pytest.raises(ValueError, match="strict retention"):
        wh.expire_snapshots(
            "lab", "src", keep_last=1, retain_checkpoints=[missing],
            strict_checkpoints=True,
        )

    # expire_plan + dry_run: victims listed, NOTHING removed
    plan = wh.expire_plan(
        "lab", "src", keep_last=1, retain_checkpoints=[ckpt]
    )
    assert plan == {"victims": [], "ckpt_floor": 1, "checkpoints": 1}
    plan = wh.expire_plan("lab", "src", keep_last=1)
    assert plan["victims"] == [1, 2, 3]
    assert wh.expire_snapshots("lab", "src", keep_last=1, dry_run=True) == 3
    assert len(wh._snapshot_versions("lab", "src")) == 4  # intact

    # CLI: floor + count print BEFORE acting; --dry-run removes nothing
    rc = cli_main([
        "expire", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src", "--keep-last", "1",
        "--retain-checkpoints", ckpt, "--dry-run",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "checkpoint floor: v1 (1 checkpoint(s) registered)" in out
    assert "would expire 0 snapshot(s)" in out
    assert len(wh._snapshot_versions("lab", "src")) == 4
    # the zero-checkpoints visibility warning on a REAL no-op registration
    rc = cli_main([
        "expire", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src", "--keep-last", "1",
        "--retain-checkpoints", missing, "--dry-run",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "registered ZERO checkpoints" in out
    # and the act itself still works (plan == act through one code path)
    rc = cli_main([
        "expire", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src", "--keep-last", "1",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "expired 3 snapshot(s)" in out
    assert wh._snapshot_versions("lab", "src") == [4]

def test_auto_fold_bounds_delete_stack(spark, tmp_path):
    """VERDICT r17 #1: maintenance_policy folds the MV's pending MoR
    delete stack from the tick path — under-threshold ticks report no
    fold (and pay only a head-JSON census), the tick that crosses the
    threshold ends with an optimize() that CLEARS the stack, the MV
    stays exact across the fold, and a typo'd policy key refuses up
    front (the silent-never-fold direction)."""
    wh = _mk(spark, tmp_path, "af")
    ckpt = str(tmp_path / "af" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(k, 0, k, k * 10) for k in range(6)], SCHEMA
        ),
        batch_id="b0",
    )
    pol = {"max_pending_delete_entries": 3}
    res = _mv_tick_pol(wh, ckpt, pol)  # bootstrap: plain append, 0 dels
    assert "auto_fold" not in res
    # each MoR upsert tick stacks delete entries on the MV
    folded = None
    for i in range(1, 7):
        wh.merge_upsert(
            "lab", "src",
            spark.createDataFrame([(i % 6, i, 100 + i, i * 7)], SCHEMA),
            ["k"], mode="merge-on-read",
        )
        res = _mv_tick_pol(wh, ckpt, pol)
        st = wh.pending_delete_stats("lab", "mv")
        if "auto_fold" in res:
            folded = res["auto_fold"]
            # the fold observed an over-threshold stack and cleared it
            assert folded["pending_delete_entries"] > 3
            assert st == {"entries": 0, "rows": 0}
        else:
            assert st["entries"] <= 3 + 2  # bounded between folds
        assert _mv_rows(wh) == _expected(wh)  # exact across every tick
    assert folded is not None, "the policy never fired"
    assert folded["files"] >= 1
    # census is head-metadata-only: no SparkSession needed, and it
    # agrees with the session-backed read (later under-threshold ticks
    # may legitimately have re-stacked a few entries since the fold)
    wh_nospark = ParquetWarehouse(None, wh.root)
    assert wh_nospark.pending_delete_stats(
        "lab", "mv"
    ) == wh.pending_delete_stats("lab", "mv")
    assert wh.pending_delete_stats("lab", "mv")["entries"] <= 3

    # typo'd key refuses up front; threshold-less policy refuses too
    with pytest.raises(ValueError, match="unknown maintenance_policy"):
        _mv_tick_pol(wh, ckpt, {"max_pending_deletes": 1})
    with pytest.raises(ValueError, match="never fires"):
        _mv_tick_pol(wh, ckpt, {"target_file_size_bytes": 1 << 20})


def _mv_tick_pol(wh, ckpt, policy):
    return maintain_keep_latest_mv(
        wh, ("lab", "src"), ("lab", "mv"), ["k"],
        ts_col="ts", tie_col="eid", checkpoint_file=ckpt,
        mode="merge-on-read", maintenance_policy=policy,
    )


def test_cli_mv_tick_chain(spark, tmp_path, capsys):
    """r17: `mv-tick` — the acting twin of mv-report.  A two-stage
    chain (keep-latest -> agg) maintained purely from the CLI, in
    topological order; each invocation prints the maintainer's result
    as one JSON line and must NOT stop the caller's shared session
    (the log-report getActiveSession lesson)."""
    import json as _json

    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "tick")
    wh.create_table("lab", "agg", "zstd", 1, properties={"snapshots": "true"})
    d = str(tmp_path / "tick")
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(1, 0, 1, 10), (1, 1, 2, 11), (2, 0, 3, 20)], SCHEMA
        ),
        batch_id="b0",
    )
    rc = cli_main([
        "mv-tick", "--warehouse", wh.root, "--kind", "keep-latest",
        "--src", "lab.src", "--mv", "lab.mv", "--keys", "k",
        "--checkpoint", f"{d}/ck1.json", "--tie-col", "eid",
    ])
    out1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out1["keys_refreshed"] == -1
    rc = cli_main([
        "mv-tick", "--warehouse", wh.root, "--kind", "agg",
        "--src", "lab.mv", "--mv", "lab.agg", "--keys", "k",
        "--sum-cols", "v", "--checkpoint", f"{d}/ck2.json",
    ])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out2["groups_refreshed"] == -1
    got = {
        r["k"]: (r["cnt"], r["sum_v"])
        for r in wh.read("lab", "agg").collect()
    }
    assert got == {1: (1, 11), 2: (1, 20)}
    # incremental second ticks through the same CLI
    wh.merge_upsert(
        "lab", "src",
        spark.createDataFrame([(2, 2, 4, 25)], SCHEMA),
        ["k"], mode="merge-on-read",
    )
    for kind, src, mv, extra in (
        ("keep-latest", "lab.src", "lab.mv", ["--tie-col", "eid"]),
        ("agg", "lab.mv", "lab.agg", ["--sum-cols", "v"]),
    ):
        ck = f"{d}/ck1.json" if kind == "keep-latest" else f"{d}/ck2.json"
        rc = cli_main([
            "mv-tick", "--warehouse", wh.root, "--kind", kind,
            "--src", src, "--mv", mv, "--keys", "k",
            "--checkpoint", ck, *extra,
        ])
        assert rc == 0
    capsys.readouterr()
    got = {
        r["k"]: (r["cnt"], r["sum_v"])
        for r in wh.read("lab", "agg").collect()
    }
    assert got == {1: (1, 11), 2: (1, 25)}
    # the shared session must still be alive (guarded stop)
    assert spark.range(1).count() == 1
    # topn validation surfaces as rc=1, not a stack trace
    rc = cli_main([
        "mv-tick", "--warehouse", wh.root, "--kind", "topn",
        "--src", "lab.src", "--mv", "lab.mv", "--keys", "k",
        "--checkpoint", f"{d}/ck3.json",
    ])
    assert rc == 1
    assert "--order-col" in capsys.readouterr().out

def test_cli_expire_with_checkpoint_guard(spark, tmp_path, capsys):
    """r17: the `expire` subcommand — retention cron-able next to
    mv-tick/mv-report; --retain-checkpoints keeps the lagging
    consumer's whole window, and the guarded run is a no-op here."""
    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "clix")
    ckpt = str(tmp_path / "clix" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10)], SCHEMA), batch_id="b0",
    )
    _tick(wh, ckpt)  # checkpoint at v1
    for i in range(2, 4):
        wh.append(
            "lab", "src",
            spark.createDataFrame([(i, i, i, i * 10)], SCHEMA),
            batch_id=f"b{i}",
        )
    rc = cli_main([
        "expire", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src", "--keep-last", "1",
        "--retain-checkpoints", ckpt,
    ])
    assert rc == 0
    assert "expired 0 snapshot(s)" in capsys.readouterr().out
    _tick(wh, ckpt)  # consumer catches up; floor moves with it
    rc = cli_main([
        "expire", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src", "--keep-last", "1",
        "--retain-checkpoints", ckpt,
    ])
    assert rc == 0
    assert "expired 2 snapshot(s)" in capsys.readouterr().out

def test_cli_mv_tick_join_kind(spark, tmp_path, capsys):
    """mv-tick kind=join: the two-checkpoint + renamed-right-keys
    argument mapping (the CLI's most error-prone surface)."""
    import json as _json

    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = ParquetWarehouse(spark, str(tmp_path / "tkj"))
    for t in ("l", "r", "jmv"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "l",
        spark.createDataFrame(
            [(1, 0, 1, 10), (2, 0, 2, 20)],
            "k int, ts int, eid int, lv int",
        ),
        batch_id="seed_l",
    )
    wh.append(
        "lab", "r",
        spark.createDataFrame(
            [(1, 0, 1, "r1"), (3, 0, 3, "r3")],
            "rid int, ts int, eid int, rv string",
        ),
        batch_id="seed_r",
    )
    d = str(tmp_path / "tkj")
    rc = cli_main([
        "mv-tick", "--warehouse", wh.root, "--kind", "join",
        "--src", "lab.l", "--right", "lab.r", "--mv", "lab.jmv",
        "--keys", "k", "--right-keys", "rid", "--how", "left",
        "--checkpoint", f"{d}/ckl.json",
        "--checkpoint-right", f"{d}/ckr.json", "--tie-col", "eid",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["keys_refreshed"] == -1
    got = {
        r["k"]: (r["lv"], r["rv"])
        for r in wh.read("lab", "jmv").collect()
    }
    assert got == {1: (10, "r1"), 2: (20, None)}
    # missing join args surface as rc=1
    rc = cli_main([
        "mv-tick", "--warehouse", wh.root, "--kind", "join",
        "--src", "lab.l", "--mv", "lab.jmv", "--keys", "k",
        "--checkpoint", f"{d}/x.json",
    ])
    assert rc == 1 and "--right" in capsys.readouterr().out

def test_retention_floor_skips_branch_checkpoints(spark, tmp_path):
    """A BRANCH-ref checkpoint registers no main-expiry floor: main
    expiry never removes branch version files (and branch data
    survives via branch-head GC retention), so holding main history
    for it would be pure over-retention."""
    wh = _mk(spark, tmp_path, "retbr")
    for i in range(3):
        wh.append(
            "lab", "src",
            spark.createDataFrame([(i, i, i, i)], SCHEMA),
            batch_id=f"b{i}",
        )
    wh.create_branch("lab", "src", "stage")
    bck = str(tmp_path / "retbr" / "bck.json")
    with open(bck, "w") as f:
        json.dump({"version": 1, "branch": "stage"}, f)
    removed = wh.expire_snapshots(
        "lab", "src", keep_last=1, retain_checkpoints=[bck]
    )
    assert removed == 2  # no floor registered
    # the branch is untouched: its history still reads
    assert wh.read("lab", "src", "stage").count() == 3

def test_cli_optimize(spark, tmp_path, capsys):
    """r17: the `optimize` subcommand — compaction cron-able next to
    mv-tick/expire (the MoR tick series grows between folds, so this
    cadence is what keeps MV tick cost flat)."""
    import json as _json

    from hands_on_iceberg_compression_spark.__main__ import main as cli_main

    wh = _mk(spark, tmp_path, "cliopt")
    for i in range(3):
        wh.append(
            "lab", "src",
            spark.createDataFrame([(i, i, i, i)], SCHEMA),
            batch_id=f"b{i}",
        )
    assert len(wh.head_snapshot("lab", "src")["files"]) > 1
    rc = cli_main([
        "optimize", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["files"] == 1
    assert wh.read("lab", "src").count() == 3
    # a malformed partition filter surfaces as rc=1
    rc = cli_main([
        "optimize", "--warehouse", wh.root, "--schema", "lab",
        "--table", "src", "--partition-filter", "oops",
    ])
    assert rc == 1
