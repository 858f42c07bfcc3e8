"""Self-maintainable AGGREGATE materialized views (VERDICT r12 #3):
``maintain_agg_mv`` keeps count/sum/avg-per-group current purely from
the source changelog — inserts add, deletes subtract, NO source re-read
per tick (the scan the r12 verdict ordered removed for the aggregate
case).  Pinned here:

- convergence: after draining the log, the MV equals the batch
  recompute exactly, over scripted AND randomized DML histories;
- EXACTLY-ONCE algebra under at-least-once delivery: a redelivered
  window must not double-apply (aggregate deltas are not idempotent —
  the applied-watermark commits atomically with the MV data and the
  incremental path filters by ``_commit_version``);
- the bootstrap crash contract shared with the keep-latest maintainer
  (checkpoint present + MV empty -> full recompute, never
  incremental-only).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
    maintain_agg_mv,
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
    return maintain_agg_mv(
        wh, ("lab", "src"), ("lab", "mv"), ["k"], sum_cols=["v"],
        checkpoint_file=ckpt,
    )


def _mv_rows(wh):
    return sorted(
        (r["k"], r["cnt"], r["sum_v"], r["nn_v"], r["avg_v"])
        for r in wh.read("lab", "mv").collect()
    )


def _expected(wh):
    if wh.is_empty("lab", "src"):
        return []
    got = (
        wh.read("lab", "src")
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.coalesce(F.col("v"), F.lit(0))).alias("sum_v"),
            F.count("v").cast("bigint").alias("nn_v"),
        )
        .withColumn(
            "avg_v",
            F.when(
                F.col("nn_v") > 0, F.col("sum_v") / F.col("nn_v")
            ).cast("double"),
        )
        .collect()
    )
    return sorted(
        (r["k"], r["cnt"], r["sum_v"], r["nn_v"], r["avg_v"]) for r in got
    )


def test_scripted_lifecycle(spark, tmp_path):
    wh = _mk(spark, tmp_path, "s1")
    ckpt = str(tmp_path / "s1" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(1, 0, 1, 10), (1, 0, 2, 20), (2, 0, 3, None)], SCHEMA
        ),
        batch_id="b0",
    )
    out = _tick(wh, ckpt)  # bootstrap: full recompute at the ckpt version
    assert out["groups_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh) == [
        (1, 2, 30, 2, 15.0), (2, 1, 0, 0, None),
    ]
    # pure-delta ticks: inserts add (incl. a NULL v that counts toward
    # cnt but not sum/nn), deletes subtract, a group vanishes
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 1, 4, None), (3, 1, 5, 7)], SCHEMA),
        batch_id="b1",
    )
    out = _tick(wh, ckpt)
    assert out["groups_refreshed"] == 2
    assert _mv_rows(wh) == _expected(wh)
    assert (1, 3, 30, 2, 15.0) in _mv_rows(wh)
    wh.delete_where("lab", "src", "k = 2", mode="merge-on-read")
    wh.delete_where("lab", "src", "eid = 2")  # CoW: one of group 1's rows
    _tick(wh, ckpt)
    assert _mv_rows(wh) == _expected(wh)
    assert all(r[0] != 2 for r in _mv_rows(wh))  # group tombstoned
    assert (1, 2, 10, 1, 10.0) in _mv_rows(wh)
    # maintenance-only window: zero groups, checkpoint advances
    wh.optimize("lab", "src")
    out = _tick(wh, ckpt)
    assert out["delivered"] is False and out["groups_refreshed"] == 0
    assert _mv_rows(wh) == _expected(wh)


def test_redelivered_window_never_double_applies(spark, tmp_path):
    """THE aggregate-specific contract: a crash between the MV merge
    and the checkpoint write redelivers the whole window — count/sum
    deltas applied twice would corrupt silently (keep-latest is
    naturally idempotent; sums are not).  The applied-watermark rides
    the MV commit, so the redelivered prefix filters out while NEW
    commits in the wider window still apply."""
    wh = _mk(spark, tmp_path, "rd")
    ckpt = str(tmp_path / "rd" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10), (2, 0, 2, 5)], SCHEMA),
        batch_id="b0",
    )
    _tick(wh, ckpt)
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 1, 3, 100)], SCHEMA),
        batch_id="b1",
    )
    _tick(wh, ckpt)
    want = _expected(wh)
    assert _mv_rows(wh) == want and (1, 2, 110, 2, 55.0) in want
    with open(ckpt) as f:
        applied_ckpt = json.load(f)
    # simulate the crash: rewind the checkpoint BELOW the applied
    # window (as if the merge committed but the ckpt write never ran)
    with open(ckpt, "w") as f:
        json.dump({"version": 1, "branch": "main"}, f)
    out = _tick(wh, ckpt)
    # the whole history redelivers, every delta is already applied
    assert out["delivered"] is True
    assert _mv_rows(wh) == want  # unchanged — no double count
    # wider-window flavor: rewind AND add a new commit; only the new
    # commit's delta lands
    wh.append(
        "lab", "src",
        spark.createDataFrame([(2, 2, 4, 15)], SCHEMA),
        batch_id="b2",
    )
    with open(ckpt, "w") as f:
        json.dump({"version": 1, "branch": "main"}, f)
    _tick(wh, ckpt)
    assert _mv_rows(wh) == _expected(wh)
    assert (2, 2, 20, 2, 10.0) in _mv_rows(wh)
    # checkpoint restored past the original window
    with open(ckpt) as f:
        assert json.load(f)["version"] > applied_ckpt["version"]


def test_bootstrap_crash_between_checkpoint_and_refresh(spark, tmp_path):
    """Shared contract with the keep-latest maintainer (ADVICE r12):
    checkpoint present + MV never committed -> full recompute."""
    wh = _mk(spark, tmp_path, "cr")
    ckpt = str(tmp_path / "cr" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10), (2, 0, 2, 20)], SCHEMA),
        batch_id="b0",
    )
    wh.consume_changes("lab", "src", ckpt, lambda ch: None)  # ckpt only
    assert wh.is_empty("lab", "mv")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 1, 3, 30)], SCHEMA),
        batch_id="b1",
    )
    out = _tick(wh, ckpt)
    assert out["groups_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh) == [
        (1, 2, 40, 2, 20.0), (2, 1, 20, 1, 20.0),
    ]
    # MV survived a lost checkpoint: reconcile (incl. tombstoning)
    wh.delete_where("lab", "src", "k = 2")
    import os

    os.unlink(ckpt)
    out = _tick(wh, ckpt)
    assert out["groups_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh)
    assert all(r[0] != 2 for r in _mv_rows(wh))


def test_reconcile_commits_before_checkpoint(spark, tmp_path, monkeypatch):
    """ADVICE r13 (medium): the lost-checkpoint reconcile must COMMIT
    THE MV BEFORE the checkpoint file is (re)initialized.  The old
    shape (consume_changes inits ckpt@head, then the reconcile merges)
    let a crash in between strand ckpt@head over an MV whose watermark
    is older — versions in (applied, ckpt] would never redeliver and
    the counts stayed silently wrong forever.  Pin the ordering: a
    reconcile that crashes leaves NO checkpoint, so the next tick
    re-enters bootstrap and heals."""
    import os

    wh = _mk(spark, tmp_path, "ord")
    ckpt = str(tmp_path / "ord" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10), (2, 0, 2, 5)], SCHEMA),
        batch_id="b0",
    )
    _tick(wh, ckpt)
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 1, 3, 100)], SCHEMA),
        batch_id="b1",
    )
    _tick(wh, ckpt)
    want = _expected(wh)
    # lose the checkpoint, then crash INSIDE the reconcile commit
    os.unlink(ckpt)
    wh.append(
        "lab", "src",
        spark.createDataFrame([(3, 2, 4, 7)], SCHEMA),
        batch_id="b2",
    )
    with monkeypatch.context() as m:
        m.setattr(
            wh, "merge_upsert",
            lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
        )
        with pytest.raises(RuntimeError, match="crash"):
            _tick(wh, ckpt)
    # the ordering contract: no commit -> no checkpoint written
    assert not os.path.exists(ckpt)
    assert _mv_rows(wh) == want  # MV untouched by the crashed tick
    # next tick re-enters bootstrap and heals completely
    out = _tick(wh, ckpt)
    assert out["groups_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh)
    assert (3, 1, 7, 1, 7.0) in _mv_rows(wh)


def test_checkpoint_ahead_of_watermark_heals_by_reconcile(spark, tmp_path):
    """Defense in depth for the same hole class: if the on-disk state
    the OLD code could produce ever appears anyway (checkpoint ahead of
    the MV's applied watermark with ROW CHANGES in the gap — e.g. a
    hand-moved/restored checkpoint file), a normal tick must detect it
    from the watermark and heal with a full reconcile instead of
    silently never delivering those versions."""
    wh = _mk(spark, tmp_path, "gap")
    ckpt = str(tmp_path / "gap" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 0, 1, 10), (2, 0, 2, 5)], SCHEMA),
        batch_id="b0",
    )
    _tick(wh, ckpt)
    # row changes land AND the checkpoint jumps past them without any
    # MV commit — the stranded state
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 1, 3, 100), (4, 1, 4, 1)], SCHEMA),
        batch_id="b_gap",
    )
    head = wh._latest_version("lab", "src")
    with open(ckpt, "w") as f:
        json.dump({"version": head, "branch": "main"}, f)
    # more commits after the strand point: the healing tick must cover
    # BOTH the gap and the new window
    wh.append(
        "lab", "src",
        spark.createDataFrame([(2, 2, 5, 20)], SCHEMA),
        batch_id="b_new",
    )
    out = _tick(wh, ckpt)
    assert out["groups_refreshed"] == -1  # healed via full reconcile
    assert _mv_rows(wh) == _expected(wh)
    assert (1, 2, 110, 2, 55.0) in _mv_rows(wh)  # gap rows present
    assert (2, 2, 25, 2, 12.5) in _mv_rows(wh)  # new-window rows present
    # steady state resumes: the next tick is plain incremental again
    wh.append(
        "lab", "src",
        spark.createDataFrame([(1, 3, 6, 1)], SCHEMA),
        batch_id="b3",
    )
    out = _tick(wh, ckpt)
    assert out["groups_refreshed"] == 1
    assert _mv_rows(wh) == _expected(wh)


DML = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "append_null", "mor_delete", "cow_delete",
             "update", "optimize", "tick"]
        ),
        st.integers(0, 9),
    ),
    min_size=3,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(ops=DML)
def test_randomized_dml_converges(spark, tmp_path_factory, ops):
    wh = _mk(spark, tmp_path_factory.mktemp("aggrand"), "r")
    ckpt = str(tmp_path_factory.mktemp("aggrand") / "ck.json")
    eid = 0
    wh.append(
        "lab", "src",
        spark.createDataFrame([(k, 0, k, k * 10) for k in range(4)], SCHEMA),
        batch_id="seed",
    )
    for op, pick in ops:
        eid += 1
        if op == "append":
            wh.append(
                "lab", "src",
                spark.createDataFrame(
                    [(pick % 5, eid, eid + 100, pick)], SCHEMA
                ),
                batch_id=f"b{eid}",
            )
        elif op == "append_null":
            wh.append(
                "lab", "src",
                spark.createDataFrame(
                    [(pick % 5, eid, eid + 100, None)], SCHEMA
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
            # UPDATE v = v + 1000 WHERE k = pick % 5, as a keyed upsert
            wh.merge_upsert(
                "lab", "src",
                wh.read("lab", "src")
                .filter(F.col("k") == pick % 5)
                .withColumn("v", F.col("v") + 1000),
                ["k", "ts", "eid"],
            )
        elif op == "optimize":
            wh.optimize("lab", "src")
        else:
            _tick(wh, ckpt)
    _tick(wh, ckpt)
    assert _mv_rows(wh) == _expected(wh)


def test_auto_mode_picks_cow_for_small_mv(spark, tmp_path):
    """r15: mode='auto' (now the default) maintains a metadata-provably
    SMALL MV copy-on-write — no pending delete entries accumulate on
    the MV (the growing read-plan term the tick-floor decomposition
    found) — and conservatively stays merge-on-read when pending
    deletes make the MV's size unknowable from metadata."""
    from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
        _resolve_agg_mv_mode,
    )

    wh = _mk(spark, tmp_path, "auto")
    ckpt = str(tmp_path / "auto" / "ck.json")
    wh.append(
        "lab", "src",
        spark.createDataFrame(
            [(k, 0, k, k * 3) for k in range(10)], SCHEMA
        ),
        batch_id="seed",
    )
    _tick(wh, ckpt)  # bootstrap
    for e in range(3):
        wh.append(
            "lab", "src",
            spark.createDataFrame(
                [(e, e + 1, 100 + e, 7)], SCHEMA
            ),
            batch_id=f"a{e}",
        )
        _tick(wh, ckpt)
    head = wh.head_snapshot("lab", "mv")
    assert not head.get("deletes")  # CoW ticks: no MoR delete stack
    assert _mv_rows(wh) == _expected(wh)
    # unknowable size -> merge-on-read: a second entry over the same
    # rows whose read position is unknown (no rv_seq, as cherry_pick
    # leaves a picked delete) cannot be proven disjoint from the first
    wh.delete_where("lab", "mv", "k = 0", mode="merge-on-read")
    assert wh.count_rows("lab", "mv", fallback=False) is not None
    (d,) = wh.delete_files_report("lab", "mv")
    tuples = pq.read_table(os.path.join(wh._tdir("lab", "mv"), d["path"]))
    _root, dels = wh._write_pos_deletes("lab", "mv", tuples, 0)
    dels[0].pop("rv_seq")
    wh.commit_snapshot("lab", "mv", "delete", add_files=[], add_deletes=dels)
    assert wh.count_rows("lab", "mv", fallback=False) is None
    assert _resolve_agg_mv_mode(wh, "lab", "mv", "auto") == "merge-on-read"
    assert _resolve_agg_mv_mode(wh, "lab", "mv", "copy-on-write") == (
        "copy-on-write"
    )
