"""Incremental JOIN MV (r15): ``maintain_join_mv`` — the delta-join
maintainer, MV = keep_latest(left) INNER JOIN keep_latest(right) on a
shared key, maintained from BOTH sources' keys-only changelogs.

Convergence contract pinned here: after ticking to both heads the MV
equals the batch join recompute exactly (minus the dropped ordering
columns), whatever mix of upserts/deletes either side saw; a key whose
join row vanishes (either side's row deleted) tombstones; redelivered
windows are no-ops; lost checkpoints reconcile via the
commit-before-checkpoint bootstrap; overlapping value columns refuse.
"""

from __future__ import annotations

import json

import pytest

from hands_on_iceberg_compression_spark.operators.dedup import keep_latest
from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
    maintain_join_mv,
)
from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
)

L_SCHEMA = "k int, ts int, eid int, lv int"
R_SCHEMA = "k int, ts int, eid int, rv string"


def _mk(spark, tmp_path, name):
    wh = ParquetWarehouse(spark, str(tmp_path / name))
    for t in ("l", "r", "mv"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "l",
        spark.createDataFrame(
            [(k, 0, k, k * 10) for k in range(6)], L_SCHEMA
        ),
        batch_id="seed_l",
    )
    wh.append(
        "lab", "r",
        spark.createDataFrame(
            [(k, 0, k, f"r{k}") for k in range(2, 8)], R_SCHEMA
        ),
        batch_id="seed_r",
    )
    return wh


def _tick(wh, d, how="inner"):
    return maintain_join_mv(
        wh, ("lab", "l"), ("lab", "r"), ("lab", "mv"), ["k"],
        ts_col="ts", tie_col="eid",
        checkpoint_left=f"{d}/ckl.json", checkpoint_right=f"{d}/ckr.json",
        how=how,
    )


def _mv_rows(wh):
    # sort by k alone: it is the MV key (unique), and LEFT-shape rows
    # carry None values that tuple comparison cannot order
    return sorted(
        ((r["k"], r["lv"], r["rv"]) for r in wh.read("lab", "mv").collect()),
        key=lambda t: t[0],
    )


def _expected(wh, how="inner"):
    l_latest = keep_latest(wh.read("lab", "l"), ["k"], "ts", "eid")
    r_latest = keep_latest(wh.read("lab", "r"), ["k"], "ts", "eid")
    j = l_latest.select("k", "lv").join(
        r_latest.select("k", "rv"), ["k"], how
    )
    return sorted(
        ((r["k"], r["lv"], r["rv"]) for r in j.collect()),
        key=lambda t: t[0],
    )


def test_bootstrap_incremental_tombstone_and_redelivery(spark, tmp_path):
    wh = _mk(spark, tmp_path, "jmv")
    d = str(tmp_path / "jmv")
    out = _tick(wh, d)
    assert out["keys_refreshed"] == -1  # bootstrap full join
    # MV schema: key + value columns, ordering mechanics dropped
    assert sorted(wh.read("lab", "mv").columns) == ["k", "lv", "rv"]
    assert _mv_rows(wh) == _expected(wh)
    assert _mv_rows(wh) == [(k, k * 10, f"r{k}") for k in range(2, 6)]

    # left-side update + new key that completes a join pair
    wh.merge_upsert(
        "lab", "l",
        spark.createDataFrame([(2, 1, 100, 222), (7, 1, 101, 70)], L_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    out = _tick(wh, d)
    assert out["left"]["delivered"] and not out["right"]["delivered"]
    assert out["keys_refreshed"] == 2
    assert _mv_rows(wh) == _expected(wh)
    assert (2, 222, "r2") in _mv_rows(wh) and (7, 70, "r7") in _mv_rows(wh)

    # right-side update lands through the right pull
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame([(3, 1, 102, "R3")], R_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    _tick(wh, d)
    assert _mv_rows(wh) == _expected(wh)
    assert (3, 30, "R3") in _mv_rows(wh)

    # tombstone: deleting the RIGHT row kills the join row for the key
    wh.delete_where("lab", "r", "k = 4", mode="merge-on-read")
    _tick(wh, d)
    assert _mv_rows(wh) == _expected(wh)
    assert all(k != 4 for k, _lv, _rv in _mv_rows(wh))

    # redelivery: rewind the LEFT checkpoint across the whole history —
    # re-application must be a no-op (key-idempotent refresh)
    want = _mv_rows(wh)
    with open(f"{d}/ckl.json") as f:
        st = json.load(f)
    st["version"] = 1
    with open(f"{d}/ckl.json", "w") as f:
        json.dump(st, f)
    _tick(wh, d)
    assert _mv_rows(wh) == want == _expected(wh)


def test_lost_checkpoint_reconciles_and_overlap_refuses(spark, tmp_path):
    wh = _mk(spark, tmp_path, "jrc")
    d = str(tmp_path / "jrc")
    _tick(wh, d)
    # source moved while the checkpoint was lost: reconcile must both
    # refresh keys and tombstone vanished join rows
    wh.delete_where("lab", "l", "k = 2", mode="merge-on-read")
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame([(5, 2, 200, "R5")], R_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    import os

    os.unlink(f"{d}/ckl.json")
    out = _tick(wh, d)
    assert out["keys_refreshed"] == -1  # bootstrap reconcile path
    assert _mv_rows(wh) == _expected(wh)
    assert all(k != 2 for k, _lv, _rv in _mv_rows(wh))
    assert (5, 50, "R5") in _mv_rows(wh)
    # steady after reconcile
    wh.merge_upsert(
        "lab", "l",
        spark.createDataFrame([(6, 3, 300, 666)], L_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    _tick(wh, d)
    assert _mv_rows(wh) == _expected(wh)

    # overlapping VALUE columns refuse with a clear message
    wh.create_table(
        "lab", "r2", "zstd", 1, properties={"snapshots": "true"}
    )
    wh.append(
        "lab", "r2",
        spark.createDataFrame([(1, 0, 1, 5)], "k int, ts int, eid int, lv int"),
        batch_id="seed",
    )
    with pytest.raises(ValueError, match="BOTH join sides"):
        maintain_join_mv(
            wh, ("lab", "l"), ("lab", "r2"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid",
            checkpoint_left=f"{d}/x1.json", checkpoint_right=f"{d}/x2.json",
        )


def test_mixed_dml_drain_converges(spark, tmp_path):
    """A burst of interleaved DML on both sides between ticks — one
    drain tick must land the exact batch join (the composition the
    two-checkpoint design must get right: a key touched on either side
    refreshes against BOTH sides' current state)."""
    wh = _mk(spark, tmp_path, "jdr")
    d = str(tmp_path / "jdr")
    _tick(wh, d)
    wh.merge_upsert(
        "lab", "l",
        spark.createDataFrame([(0, 1, 400, 11), (9, 1, 401, 90)], L_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame(
            [(0, 1, 402, "R0"), (9, 1, 403, "r9")], R_SCHEMA
        ),
        ["k"], mode="merge-on-read",
    )
    wh.delete_where("lab", "l", "k = 3", mode="merge-on-read")
    wh.delete_by_keys("lab", "r", [5], eq_cols=["k"])
    wh.optimize("lab", "l")
    _tick(wh, d)
    assert _mv_rows(wh) == _expected(wh)
    assert (0, 11, "R0") in _mv_rows(wh)  # joined only after both lands
    assert (9, 90, "r9") in _mv_rows(wh)
    assert all(k not in (3, 5) for k, _lv, _rv in _mv_rows(wh))


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

DML = st.lists(
    st.tuples(
        st.sampled_from(
            ["l_upsert", "r_upsert", "l_delete", "r_delete",
             "optimize", "tick"]
        ),
        st.integers(0, 9),
    ),
    min_size=3,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(ops=DML)
def test_randomized_two_sided_dml_converges(spark, tmp_path_factory, ops):
    """Randomized interleaving of DML on BOTH sides with maintenance
    ticks, then a drain — the MV must equal the batch join exactly
    whatever history ran (the keep-latest maintainer's convergence
    net, extended to the two-checkpoint join composition)."""
    wh = _mk(spark, tmp_path_factory.mktemp("jrand"), "j")
    d = str(tmp_path_factory.mktemp("jrand_ck"))
    _tick(wh, d)
    eid = 1000
    for op, pick in ops:
        eid += 1
        if op == "l_upsert":
            wh.merge_upsert(
                "lab", "l",
                spark.createDataFrame(
                    [(pick % 8, eid, eid, pick * 7)], L_SCHEMA
                ),
                ["k"], mode="merge-on-read",
            )
        elif op == "r_upsert":
            wh.merge_upsert(
                "lab", "r",
                spark.createDataFrame(
                    [(pick % 8, eid, eid, f"x{pick}")], R_SCHEMA
                ),
                ["k"], mode="merge-on-read",
            )
        elif op == "l_delete":
            wh.delete_where(
                "lab", "l", f"k = {pick % 8}", mode="merge-on-read"
            )
        elif op == "r_delete":
            wh.delete_by_keys("lab", "r", [pick % 8], eq_cols=["k"])
        elif op == "optimize":
            wh.optimize("lab", "l" if pick % 2 else "r")
        else:
            _tick(wh, d)
    _tick(wh, d)  # drain
    assert _mv_rows(wh) == _expected(wh)


def test_left_outer_lifecycle(spark, tmp_path):
    """VERDICT r15 #1 — the enrichment shape: a surviving LEFT row with
    no right match carries NULL right values; a right row arriving
    fills them in place; a right row vanishing reverts to NULL (never
    a tombstone); a LEFT row vanishing tombstones; right-only keys
    never appear."""
    wh = _mk(spark, tmp_path, "jlo")
    d = str(tmp_path / "jlo")
    out = _tick(wh, d, how="left")
    assert out["keys_refreshed"] == -1
    assert _mv_rows(wh) == _expected(wh, "left")
    got = dict((k, (lv, rv)) for k, lv, rv in _mv_rows(wh))
    # left-only keys 0,1 present with NULL right; right-only 6,7 absent
    assert got[0] == (0, None) and got[1] == (10, None)
    assert 6 not in got and 7 not in got
    assert got[3] == (30, "r3")

    # a right row ARRIVES for a left-only key: NULLs fill in
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame([(1, 1, 100, "R1")], R_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    _tick(wh, d, how="left")
    assert _mv_rows(wh) == _expected(wh, "left")
    assert (1, 10, "R1") in _mv_rows(wh)

    # the right row VANISHES: back to a NULL-right image, not a
    # tombstone (the inner shape would delete this key)
    wh.delete_where("lab", "r", "k = 3", mode="merge-on-read")
    _tick(wh, d, how="left")
    assert _mv_rows(wh) == _expected(wh, "left")
    assert (3, 30, None) in _mv_rows(wh)

    # the LEFT row vanishes: tombstone
    wh.delete_where("lab", "l", "k = 0", mode="merge-on-read")
    _tick(wh, d, how="left")
    assert _mv_rows(wh) == _expected(wh, "left")
    assert all(k != 0 for k, _lv, _rv in _mv_rows(wh))

    # a right-only key churns: its touched key lands in the tombstone
    # batch, a no-op — it must never surface in the MV
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame([(7, 1, 101, "R7")], R_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    _tick(wh, d, how="left")
    assert _mv_rows(wh) == _expected(wh, "left")
    assert all(k != 7 for k, _lv, _rv in _mv_rows(wh))

    # unsupported shapes refuse up front
    with pytest.raises(ValueError, match="join shapes"):
        maintain_join_mv(
            wh, ("lab", "l"), ("lab", "r"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid",
            checkpoint_left=f"{d}/x1.json",
            checkpoint_right=f"{d}/x2.json",
            how="full",
        )


def _crash_between_pulls(wh, d, how):
    """Run a tick that CRASHES after the left pull commits its
    checkpoint but before the right pull runs — the ordering bug class
    VERDICT r15 #5 orders covered (the two-checkpoint composition must
    make this window harmless)."""
    orig = wh.consume_changes
    calls = {"n": 0}

    def wrapped(*a, **kw):
        if calls["n"] == 1:
            raise RuntimeError("crash between pulls")
        calls["n"] += 1
        return orig(*a, **kw)

    wh.consume_changes = wrapped
    try:
        with pytest.raises(RuntimeError, match="between pulls"):
            _tick(wh, d, how=how)
    finally:
        del wh.consume_changes


@pytest.mark.parametrize("how", ["inner", "left"])
def test_crash_between_pulls_converges(spark, tmp_path, how):
    """Crash after the left checkpoint advanced but before the right
    pull: the left window is consumed, the right one redelivers next
    tick, and a key whose change lived only in the crashed-away right
    window still lands (each side's pull refreshes against BOTH
    sides' current state)."""
    wh = _mk(spark, tmp_path, f"jcr_{how}")
    d = str(tmp_path / f"jcr_{how}")
    _tick(wh, d, how=how)
    # both sides change; the right-side change is the one the crash
    # strands behind the un-advanced right checkpoint
    wh.merge_upsert(
        "lab", "l",
        spark.createDataFrame([(2, 5, 500, 777)], L_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame([(5, 5, 501, "RR5")], R_SCHEMA),
        ["k"], mode="merge-on-read",
    )
    _crash_between_pulls(wh, d, how)
    # recovery tick drains the right window
    _tick(wh, d, how=how)
    assert _mv_rows(wh) == _expected(wh, how)
    assert (2, 777, "r2") in _mv_rows(wh)
    assert (5, 50, "RR5") in _mv_rows(wh)


LDML = st.lists(
    st.tuples(
        st.sampled_from(
            ["l_upsert", "r_upsert", "l_delete", "r_delete", "optimize",
             "tick", "crash_tick", "ckpt_rewind"]
        ),
        st.integers(0, 9),
    ),
    min_size=3,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(ops=LDML, how=st.sampled_from(["inner", "left"]))
def test_randomized_dml_with_crashes_converges(
    spark, tmp_path_factory, ops, how
):
    """The VERDICT r15 #5 net: randomized two-sided DML interleaved
    with compaction, maintenance ticks, CRASHES between the two pulls,
    and checkpoint REWINDS (redelivery) — for both join shapes, a
    drain tick must land exactly the batch join."""
    wh = _mk(spark, tmp_path_factory.mktemp("jxr"), "j")
    d = str(tmp_path_factory.mktemp("jxr_ck"))
    _tick(wh, d, how=how)
    eid = 1000
    for op, pick in ops:
        eid += 1
        if op == "l_upsert":
            wh.merge_upsert(
                "lab", "l",
                spark.createDataFrame(
                    [(pick % 8, eid, eid, pick * 7)], L_SCHEMA
                ),
                ["k"], mode="merge-on-read",
            )
        elif op == "r_upsert":
            wh.merge_upsert(
                "lab", "r",
                spark.createDataFrame(
                    [(pick % 8, eid, eid, f"x{pick}")], R_SCHEMA
                ),
                ["k"], mode="merge-on-read",
            )
        elif op == "l_delete":
            wh.delete_where(
                "lab", "l", f"k = {pick % 8}", mode="merge-on-read"
            )
        elif op == "r_delete":
            wh.delete_by_keys("lab", "r", [pick % 8], eq_cols=["k"])
        elif op == "optimize":
            wh.optimize("lab", "l" if pick % 2 else "r")
        elif op == "crash_tick":
            _crash_between_pulls(wh, d, how)
        elif op == "ckpt_rewind":
            side = "ckl" if pick % 2 else "ckr"
            with open(f"{d}/{side}.json") as f:
                st_ = json.load(f)
            st_["version"] = max(1, st_["version"] - (pick % 3 + 1))
            with open(f"{d}/{side}.json", "w") as f:
                json.dump(st_, f)
        else:
            _tick(wh, d, how=how)
    _tick(wh, d, how=how)  # drain
    assert _mv_rows(wh) == _expected(wh, how)


def test_right_key_cols_renamed_join(spark, tmp_path):
    """r16: the right side's join column may carry a different name
    (orders.user_id = users.id) — normalized to the left names
    everywhere, including the right side's keys-only changelog and the
    pruned refresh; validation refuses arity mismatch and value/key
    name clashes."""
    wh = ParquetWarehouse(spark, str(tmp_path / "jrk"))
    for t in ("l", "r", "mv"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "l",
        spark.createDataFrame(
            [(k, 0, k, k * 10) for k in range(4)], L_SCHEMA
        ),
        batch_id="seed_l",
    )
    wh.append(
        "lab", "r",
        spark.createDataFrame(
            [(k, 0, k, f"r{k}") for k in range(2, 6)],
            "rid int, ts int, eid int, rv string",
        ),
        batch_id="seed_r",
    )
    d = str(tmp_path / "jrk")

    def tick(how="left"):
        return maintain_join_mv(
            wh, ("lab", "l"), ("lab", "r"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid",
            checkpoint_left=f"{d}/ckl.json",
            checkpoint_right=f"{d}/ckr.json",
            how=how, right_key_cols=["rid"],
        )

    tick()
    assert sorted(wh.read("lab", "mv").columns) == ["k", "lv", "rv"]
    got = {
        r["k"]: (r["lv"], r["rv"]) for r in wh.read("lab", "mv").collect()
    }
    assert got[0] == (0, None) and got[2] == (20, "r2")
    assert 4 not in got and 5 not in got  # right-only keys absent

    # right-side churn flows through the RENAMED keys-only changelog
    wh.merge_upsert(
        "lab", "r",
        spark.createDataFrame(
            [(3, 1, 100, "R3"), (1, 1, 101, "R1")],
            "rid int, ts int, eid int, rv string",
        ),
        ["rid"], mode="merge-on-read",
    )
    out = tick()
    assert out["right"]["delivered"] and out["keys_refreshed"] == 2
    got = {
        r["k"]: (r["lv"], r["rv"]) for r in wh.read("lab", "mv").collect()
    }
    assert got[3] == (30, "R3") and got[1] == (10, "R1")

    # right row vanishing reverts to NULL under the left shape
    wh.delete_by_keys("lab", "r", [2], eq_cols=["rid"])
    tick()
    got = {
        r["k"]: (r["lv"], r["rv"]) for r in wh.read("lab", "mv").collect()
    }
    assert got[2] == (20, None)

    # validation: arity mismatch and right-value/key-name clash refuse
    with pytest.raises(ValueError, match="positionally"):
        maintain_join_mv(
            wh, ("lab", "l"), ("lab", "r"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid",
            checkpoint_left=f"{d}/x1.json",
            checkpoint_right=f"{d}/x2.json",
            right_key_cols=["rid", "eid"],
        )
    wh.create_table("lab", "rbad", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "rbad",
        spark.createDataFrame(
            [(1, 0, 1, "x")], "rid int, ts int, eid int, k string"
        ),
        batch_id="seed",
    )
    with pytest.raises(ValueError, match="collide"):
        maintain_join_mv(
            wh, ("lab", "l"), ("lab", "rbad"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid",
            checkpoint_left=f"{d}/y1.json",
            checkpoint_right=f"{d}/y2.json",
            right_key_cols=["rid"],
        )

def test_right_key_cols_cross_clash_refused(spark, tmp_path):
    """ADVICE r16: a right physical key name equal to a DIFFERENTLY-
    paired left key name — swapped (['a','b'] vs ['b','a']) or shifted
    (['a','b'] vs ['b','c']) — must refuse up front: the sequential
    rename chain would produce duplicate/mangled columns deep inside a
    tick, and _r applied to a keys frame would mangle left names."""
    wh = ParquetWarehouse(spark, str(tmp_path / "jxc"))
    for t in ("l2", "r2", "mv2"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "l2",
        spark.createDataFrame(
            [(1, 2, 0, 1, 10)], "a int, b int, ts int, eid int, lv int"
        ),
        batch_id="seed",
    )
    wh.append(
        "lab", "r2",
        spark.createDataFrame(
            [(2, 1, 0, 1, "x")], "b int, c int, ts int, eid int, rv string"
        ),
        batch_id="seed",
    )
    d = str(tmp_path / "jxc")
    for rk in (["b", "a"], ["b", "c"]):
        with pytest.raises(ValueError, match="differently-paired"):
            maintain_join_mv(
                wh, ("lab", "l2"), ("lab", "r2"), ("lab", "mv2"),
                ["a", "b"], ts_col="ts", tie_col="eid",
                checkpoint_left=f"{d}/cl.json",
                checkpoint_right=f"{d}/cr.json",
                right_key_cols=rk,
            )


def test_join_mv_value_col_selection(spark, tmp_path):
    """r18: ``left_value_cols``/``right_value_cols`` select WHICH value
    columns each side contributes — the column-pruned join over two
    wide sources, and the escape hatch for OVERLAPPING names (disjoint
    selections compose where full width refuses).  Pinned: both wide
    sources share a column name; full-width refuses; disjoint
    selections converge through churn; selecting a key/ordering or
    absent column refuses."""
    wh = ParquetWarehouse(spark, str(tmp_path / "vsel"))
    for t in ("lw", "rw", "mv"):
        wh.create_table("lab", t, "zstd", 1, properties={"snapshots": "true"})
    W_L = "k int, ts int, eid int, meta string, lv int"
    W_R = "k int, ts int, eid int, meta string, rv string"
    wh.append(
        "lab", "lw",
        spark.createDataFrame(
            [(k, 0, k, f"ml{k}", k * 10) for k in range(5)], W_L
        ),
        batch_id="seed_l",
    )
    wh.append(
        "lab", "rw",
        spark.createDataFrame(
            [(k, 0, k, f"mr{k}", f"r{k}") for k in range(2, 7)], W_R
        ),
        batch_id="seed_r",
    )
    d = str(tmp_path / "vsel_ck")

    def tick(**kw):
        return maintain_join_mv(
            wh, ("lab", "lw"), ("lab", "rw"), ("lab", "mv"), ["k"],
            ts_col="ts", tie_col="eid",
            checkpoint_left=f"{d}/ckl.json",
            checkpoint_right=f"{d}/ckr.json",
            **kw,
        )

    # full width: the shared 'meta' column refuses (r15 contract)
    with pytest.raises(ValueError, match="meta"):
        tick()
    # selections: left contributes (meta, lv), right only rv — disjoint
    sel = dict(left_value_cols=["meta", "lv"], right_value_cols=["rv"])
    tick(**sel)
    assert sorted(wh.read("lab", "mv").columns) == ["k", "lv", "meta", "rv"]

    def expected():
        lk = keep_latest(wh.read("lab", "lw"), ["k"], "ts", "eid")
        rk_ = keep_latest(wh.read("lab", "rw"), ["k"], "ts", "eid")
        j = lk.select("k", "meta", "lv").join(
            rk_.select("k", "rv"), ["k"]
        )
        return sorted(
            (r["k"], r["meta"], r["lv"], r["rv"]) for r in j.collect()
        )

    got = lambda: sorted(  # noqa: E731
        (r["k"], r["meta"], r["lv"], r["rv"])
        for r in wh.read("lab", "mv").collect()
    )
    assert got() == expected()
    # churn on both sides, including the UNSELECTED right 'meta'
    # (changes to unselected columns still touch keys — harmless)
    wh.merge_upsert(
        "lab", "lw",
        spark.createDataFrame([(2, 1, 100, "ml2b", 222)], W_L),
        ["k"], mode="merge-on-read",
    )
    wh.delete_where("lab", "rw", "k = 3", mode="merge-on-read")
    wh.merge_upsert(
        "lab", "rw",
        spark.createDataFrame([(4, 1, 101, "mr4b", "r4b")], W_R),
        ["k"], mode="merge-on-read",
    )
    tick(**sel)
    assert got() == expected()
    assert all(k != 3 for k, *_ in got())
    # refusals: key/ordering columns are mechanics; absent cols refuse
    with pytest.raises(ValueError, match="left_value_cols"):
        tick(left_value_cols=["k"], right_value_cols=["rv"])
    with pytest.raises(ValueError, match="right_value_cols"):
        tick(left_value_cols=["lv"], right_value_cols=["nope"])
