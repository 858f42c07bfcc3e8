"""Model-based randomized test of the manifest-list segment layer.

A random sequence of log operations — append, batch replay (drop_prefix),
scoped drop+add (the partition-scoped compaction commit shape),
metadata-only manifest rewrite, snapshot expiry — runs against BOTH a
``ParquetWarehouse`` snapshot log and a trivial dict model.  After every
operation the head's materialized file list must equal the model and the
head totals must sum it; after expiry the on-disk segment files must be
exactly the kept heads' references (no leak, no over-GC); at the end the
age-gated orphan sweep must not touch any live file.  This hammers the
compositions the example-based tests can't enumerate (merge-then-drop,
replay-after-rewrite, expiry-mid-sequence, ...).  No Spark session: the
log layer is pure pyarrow + JSON.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@contextlib.contextmanager
def _mk_wh():
    root = tempfile.mkdtemp(prefix="seg_model_")
    wh = ParquetWarehouse(None, root)  # spark unused by the log layer
    # bloom_columns ON for the whole model: every op sequence now also
    # exercises sidecar build (no-Spark pyarrow path), entry carry
    # through every head writer, and exact blob GC (VERDICT r12 #1)
    wh.create_table(
        "lab", "t", "zstd", 1,
        properties={"snapshots": "true", "bloom_columns": "id"},
    )
    try:
        yield wh
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _write_file(tdir: str, batch: str, gen: str, name: str) -> str:
    d = os.path.join(tdir, "data", batch, gen)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{name}.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), p)
    return p


OPS = st.lists(
    st.tuples(
        st.sampled_from(
            [
                "append", "replay", "drop_add", "rewrite", "expire",
                # schema evolution interleaves with every other op:
                # metadata-only commits must never perturb the file set,
                # and the schema must track its own model exactly
                "add_col", "rename_col", "drop_col", "widen_col",
                # tags pin snapshots through expiry until dropped
                "tag", "drop_tag",
                # merge-on-read delete commits: the head's delete set must
                # track the model through every carry rule (drop_files
                # prunes targets, replay prunes by prefix, DDL/rewrite
                # carry verbatim, expiry GCs unreferenced delete files)
                "mor_delete",
                # seq-scoped equality delete (kind="eq", key VALUES, no
                # positions, NO stored targets): it applies to every file
                # live at its commit (lower seq) and is retired by the
                # fold exactly when the last of them is dropped
                # (min_live_seq >= entry seq).  It keys on field id 1, so
                # dropping that field refuses while one is pending.
                "eq_delete_seq",
                # r09 branches: fork, stage commits, publish or drop —
                # branch file sets must track their own model, expiry must
                # keep branch-referenced segments, publish must fast-
                # forward exactly the staged set or refuse divergence
                "branch", "branch_commit", "publish", "drop_branch",
                # r10 cherry-pick: replay ONE staged branch commit onto a
                # possibly-diverged main — exactly its delta joins main's
                # model, whatever else happened since the fork
                "cherry_pick",
                # r11 rollback: restore a retained earlier snapshot's
                # files AND pending-delete set exactly (metadata-only;
                # schema NOT reverted), composing with everything above
                "rollback",
                # r11 commuting-DDL merge: DDL staged ON a branch, then
                # merge_branch — fast-forward at the fork, schema
                # adoption + picks after main moved, BOTH-sides DDL
                # refusal — against the same models
                "branch_ddl", "merge",
                # r12 partition-spec evolution: identity add/drop as
                # metadata-only commits — EVERY head writer must carry
                # specs/spec_id (the same carry class that bit
                # rewrite_manifests for schemas in r07), and rename/drop
                # of a spec source column (any spec ever) must refuse
                "spec_ddl",
            ]
        ),
        st.integers(0, 10),
    ),
    min_size=1,
    max_size=14,
)


@settings(max_examples=60, deadline=None)
@given(ops=OPS)
def test_random_op_sequences_match_model(ops):
    with _mk_wh() as wh:
        tdir = wh._tdir("lab", "t")
        model: set[str] = set()  # rel paths the head must list
        schema_model: list[dict] = []  # (name, type) the schema must match
        tags_model: dict[str, int] = {}  # live tags -> pinned version
        dels_model: dict[str, set[str]] = {}  # delete rel path -> live targets
        # seq-scoped eq deletes: rel path -> files that were live at its
        # commit and still are (all strictly older than it); the entry
        # must survive exactly while this set is non-empty
        seq_dels_model: dict[str, set[str]] = {}
        # branches: name -> {"files": set of rel paths, "fork": version}
        branches_model: dict[str, dict] = {}
        # the model's OWN state at each main version (files, deletes,
        # seq deletes) — what a rollback to that version must restore
        states: dict[int, tuple] = {}
        batches: list[str] = []
        counter = 0
        ddl_epoch = 0  # bumps on every MAIN DDL (both-sides detection)
        spec_model: list[str] | None = None  # current spec (None: never evolved)
        spec_guard: set[str] = set()  # spec source columns, any spec ever

        def prune_dels(gone: set[str]) -> None:
            # mirror of commit_snapshot's delete-carry: dropped files
            # leave every target list; emptied entries disappear
            for dp in list(dels_model):
                dels_model[dp] -= gone
                if not dels_model[dp]:
                    del dels_model[dp]
            # seq retirement: the fold drops a seq entry iff no surviving
            # file predates it — exactly when its older-set empties
            for dp in list(seq_dels_model):
                seq_dels_model[dp] -= gone
                if not seq_dels_model[dp]:
                    del seq_dels_model[dp]

        def cur_fields():
            return [{"name": f["name"], "type": f["type"]} for f in schema_model]

        def key_field_live() -> bool:
            # the first appended field (id 1) is what eq deletes key on;
            # rename keeps the dict, drop removes it
            return bool(key_field) and any(f is key_field[0] for f in schema_model)

        key_field: list[dict] = []  # [the model dict of field id 1]

        def check():
            head = wh.head_snapshot("lab", "t")
            if not model:
                assert head is None or len(head["files"]) == 0
            else:
                got = {e["path"] for e in head["files"]}
                assert got == model, (got ^ model)
                assert head["total_rows"] == len(model)  # 1 row per file
            if schema_model:
                assert [
                    {"name": f["name"], "type": f["type"]}
                    for f in wh.table_schema("lab", "t")
                ] == cur_fields()
            all_dels = head.get("deletes", []) if head else []
            got_dels = {
                d["path"]: set(d["targets"])
                for d in all_dels
                if d.get("targets") is not None
            }
            assert got_dels == dels_model
            got_seq = {
                d["path"] for d in all_dels if d.get("targets") is None
            }
            assert got_seq == set(seq_dels_model)
            # r18: the zero-parse census (LIGHT head + delete-segment
            # ref counts — what the auto-fold policy polls) must agree
            # with the materialized delete set the model pins
            st = wh.pending_delete_stats("lab", "t")
            assert st["entries"] == len(all_dels)
            assert st["rows"] == sum(d.get("rows", 0) for d in all_dels)
            assert wh.tags("lab", "t") == tags_model
            for v in tags_model.values():
                # every tagged snapshot must stay materializable (its head
                # AND all its segments survived whatever expiry ran)
                wh._load_snapshot("lab", "t", v)
            if spec_model is not None:
                # the spec carry discipline: EVERY head writer (appends,
                # drops, DDL, rewrites, rollbacks, deletes) must keep the
                # specs dict + current spec_id
                assert head is not None and "specs" in head
                assert head["specs"][str(head["spec_id"])] == spec_model
            assert set(wh.branches("lab", "t")) == set(branches_model)
            for b, bm in branches_model.items():
                bh = wh.head_snapshot("lab", "t", branch=b)
                assert {e["path"] for e in bh["files"]} == bm["files"]

        for op, pick in ops:
            counter += 1
            if op == "append":
                batch = f"b{counter:03d}"
                n = (pick % 3) + 1
                files = [
                    _write_file(tdir, batch, "g_0", f"f{j}") for j in range(n)
                ]
                if not schema_model:
                    schema_model.append({"name": "id", "type": "bigint"})
                    key_field.append(schema_model[0])
                wh.commit_snapshot(
                    "lab", "t", "append", add_files=files,
                    drop_prefix=os.path.join(tdir, "data", batch) + os.sep,
                    schema_fields=cur_fields(),
                )
                batches.append(batch)
                model |= {os.path.relpath(p, tdir) for p in files}
            elif op == "replay" and batches:
                batch = batches[pick % len(batches)]
                newf = _write_file(tdir, batch, f"g_{counter}", "f0")
                wh.commit_snapshot(
                    "lab", "t", "append", add_files=[newf],
                    drop_prefix=os.path.join(tdir, "data", batch) + os.sep,
                    schema_fields=cur_fields(),
                )
                gone = {
                    p for p in model
                    if p.startswith(os.path.join("data", batch) + os.sep)
                }
                model -= gone
                model.add(os.path.relpath(newf, tdir))
                prune_dels(gone)
            elif op in ("add_col", "rename_col", "drop_col", "widen_col"):
                if not wh._snapshot_versions("lab", "t") or not schema_model:
                    continue  # DDL needs a recorded schema
                ddl_epoch += 1
                head_before = wh._head_light("lab", "t")
                if op == "add_col":
                    name = f"c{counter:03d}"
                    # every third add is a decimal column, so widen_col
                    # exercises the r18 precision-growth promotion too
                    dtype = "decimal(10,2)" if pick % 3 == 0 else "int"
                    wh.add_column("lab", "t", name, dtype)
                    schema_model.append({"name": name, "type": dtype})
                elif op == "rename_col":
                    f = schema_model[pick % len(schema_model)]
                    new = f"r{counter:03d}"
                    if f["name"] in spec_guard:
                        import pytest as _pytest

                        with _pytest.raises(ValueError, match="partitioning"):
                            wh.rename_column("lab", "t", f["name"], new)
                        ddl_epoch -= 1  # nothing committed
                        continue  # refused: the +1 version assertion
                        # below is for committed DDL only (latent
                        # fall-through surfaced by the r13 model edit)
                    else:
                        wh.rename_column("lab", "t", f["name"], new)
                        f["name"] = new
                elif op == "drop_col":
                    if len(schema_model) < 2:
                        continue
                    f = schema_model[pick % len(schema_model)]
                    if f["name"] in spec_guard:
                        import pytest as _pytest

                        with _pytest.raises(ValueError, match="partitioning"):
                            wh.drop_column("lab", "t", f["name"])
                        ddl_epoch -= 1  # nothing committed
                        continue  # refused: no commit to assert on
                    elif key_field and f is key_field[0] and seq_dels_model:
                        import pytest as _pytest

                        with _pytest.raises(
                            ValueError, match="pending equality delete"
                        ):
                            wh.drop_column("lab", "t", f["name"])
                        ddl_epoch -= 1  # nothing committed
                        continue
                    else:
                        wh.drop_column("lab", "t", f["name"])
                        schema_model.remove(f)
                else:  # widen_col
                    cands = [
                        f for f in schema_model
                        if f["type"] == "int"
                        or f["type"].startswith("decimal(")
                    ]
                    if not cands:
                        continue
                    f = cands[pick % len(cands)]
                    if f["type"] == "int":
                        wide = "bigint"
                    else:
                        # decimal(P,S) -> decimal(P+4,S): the
                        # scale-preserving precision growth (r18)
                        p, sc = f["type"][8:-1].split(",")
                        wide = f"decimal({int(p) + 4},{sc})"
                    wh.update_column_type("lab", "t", f["name"], wide)
                    f["type"] = wide
                head_after = wh._head_light("lab", "t")
                # metadata-only: segment refs carried over VERBATIM
                assert head_after["segments"] == head_before.get(
                    "segments", head_after["segments"]
                )
                assert head_after["version"] == head_before["version"] + 1
            elif op == "drop_add" and model:
                victims_rel = sorted(model)[:: (pick % 3) + 1][:3]
                newf = _write_file(tdir, f"compact_{counter}", "g_0", "f0")
                wh.commit_snapshot(
                    "lab", "t", "optimize",
                    add_files=[newf],
                    drop_files=[os.path.join(tdir, r) for r in victims_rel],
                )
                batches.append(f"compact_{counter}")
                model -= set(victims_rel)
                model.add(os.path.relpath(newf, tdir))
                prune_dels(set(victims_rel))
            elif op == "mor_delete" and model:
                targets = sorted(model)[pick % len(model):][:2]
                d = os.path.join(tdir, "deletes", f"del_{counter:03d}")
                os.makedirs(d, exist_ok=True)
                dp = os.path.join(d, "part-0.parquet")
                pq.write_table(
                    pa.table(
                        {
                            "file_path": pa.array(targets, pa.string()),
                            "pos": pa.array([0] * len(targets), pa.int64()),
                        }
                    ),
                    dp,
                )
                rel = os.path.relpath(dp, tdir)
                wh.commit_snapshot(
                    "lab", "t", "delete",
                    add_files=[],
                    add_deletes=[{
                        "path": rel,
                        "bytes": os.stat(dp).st_size,
                        "rows": len(targets),
                        "kind": "pos",
                        "targets": targets,
                        "target_counts": {t: 1 for t in targets},
                    }],
                )
                dels_model[rel] = set(targets)
            elif op == "eq_delete_seq" and model and key_field_live():
                d = os.path.join(tdir, "deletes", f"eqs_{counter:03d}")
                os.makedirs(d, exist_ok=True)
                dp = os.path.join(d, "part-0.parquet")
                pq.write_table(
                    pa.table({"id": pa.array([pick], pa.int64())}), dp
                )
                rel = os.path.relpath(dp, tdir)
                wh.commit_snapshot(
                    "lab", "t", "delete",
                    add_files=[],
                    add_deletes=[{
                        "path": rel,
                        "bytes": os.stat(dp).st_size,
                        "rows": 1,
                        "kind": "eq",
                        "eq_cols": ["id"],
                        "key_ranges": {"id": {"set": [pick]}},
                        "eq_ids": [1],
                    }],
                )
                # applies to every file live at commit (all lower seq)
                seq_dels_model[rel] = set(model)
            elif op == "branch" and wh._snapshot_versions("lab", "t"):
                name = f"br{counter:03d}"
                wh.create_branch("lab", "t", name)
                branches_model[name] = {
                    "files": set(model),
                    "fork": wh._latest_version("lab", "t"),
                    "staged": [],  # (branch version, rel path) per commit
                    "picked": set(),  # branch versions already picked
                    "ddl_cols": [],  # columns added by branch-side DDL
                    "spec_added": None,  # branch-side spec DDL transform
                    "fork_spec": (
                        list(spec_model) if spec_model is not None else None
                    ),
                    "fork_ddl_epoch": ddl_epoch,
                }
            elif op == "branch_commit" and branches_model:
                name = sorted(branches_model)[pick % len(branches_model)]
                newf = _write_file(tdir, f"stage_{counter}", "g_0", "f0")
                wh.commit_snapshot(
                    "lab", "t", "append", add_files=[newf], branch=name,
                )
                rel = os.path.relpath(newf, tdir)
                branches_model[name]["files"].add(rel)
                branches_model[name]["staged"].append(
                    (wh._snapshot_versions("lab", "t", name)[-1], rel)
                )
            elif op == "branch_ddl" and branches_model:
                name = sorted(branches_model)[pick % len(branches_model)]
                bh = wh._head_light("lab", "t", name)
                if "schemas" not in bh:
                    continue  # branch forked before any recorded schema
                bm = branches_model[name]
                bspec = (
                    bm["fork_spec"] if bm["fork_spec"] is not None else []
                ) + ([bm["spec_added"]] if bm["spec_added"] else [])
                cands = [
                    f["name"] for f in wh.table_schema("lab", "t", branch=name)
                    if f["name"] not in bspec
                ] if pick % 3 == 0 and bm["spec_added"] is None else []
                if cands:
                    # branch-side SPEC DDL (identity): invisible on main
                    # until published — fast_forward must carry
                    # specs/spec_id verbatim (review r12 pass 3: its key
                    # list silently dropped them)
                    col = cands[pick % len(cands)]
                    wh.add_partition_field("lab", "t", col, branch=name)
                    bm["spec_added"] = col
                    assert wh.partition_spec("lab", "t")["transforms"] == (
                        spec_model if spec_model is not None else []
                    )
                else:
                    col = f"bd{counter:03d}"
                    wh.add_column("lab", "t", col, "int", branch=name)
                    bm["ddl_cols"].append(col)
                    # branch DDL is invisible on main until merged
                    assert not any(
                        f["name"] == col for f in wh.table_schema("lab", "t")
                    ) if schema_model else True
            elif op == "merge" and branches_model:
                # constrained to branches with NO prior partial picks and
                # no staged file already on main — keeps the model
                # deterministic; partial-resume shapes are covered by the
                # dedicated merge/cherry-pick unit tests
                cands = [
                    n
                    for n, bm in sorted(branches_model.items())
                    if not bm["picked"]
                    and all(rel not in model for _, rel in bm["staged"])
                ]
                if not cands:
                    continue
                name = cands[pick % len(cands)]
                bm = branches_model[name]
                main_v = wh._latest_version("lab", "t")
                if main_v == bm["fork"]:
                    out = wh.merge_branch("lab", "t", name)
                    assert out["strategy"] == "fast_forward"
                    model.clear()
                    model |= bm["files"]
                    for c in bm["ddl_cols"]:
                        schema_model.append({"name": c, "type": "int"})
                    if bm["spec_added"]:
                        spec_model = (
                            bm["fork_spec"] if bm["fork_spec"] is not None
                            else []
                        ) + [bm["spec_added"]]
                        for tfm in spec_model:
                            spec_guard.add(tfm)
                else:
                    # dispatch prediction from the HEAD DDL states (the
                    # ddl_epoch heuristic flaked two ways — review r12
                    # pass 4: identical identity spec adds on both sides
                    # make the states EQUAL and the merge legitimately
                    # proceeds; and publishing branch A's DDL moves
                    # main's state without bumping any epoch, so a later
                    # branch-B merge refuses where the heuristic expected
                    # success).  Only the CONTROL path is predicted from
                    # heads; every post-merge EFFECT is still asserted
                    # against the pure-Python models.
                    def dstate(h):
                        return (
                            h.get("schemas"), h.get("schema_id"),
                            h.get("specs"), h.get("spec_id"),
                        )

                    mstate = dstate(wh._head_light("lab", "t"))
                    bstate = dstate(wh._head_light("lab", "t", name))
                    fstate = dstate(
                        wh._load_head_light("lab", "t", bm["fork"], name)
                    )
                    if (
                        mstate != fstate
                        and bstate != fstate
                        and mstate != bstate
                    ):
                        # genuinely divergent DDL: refuse, never mutate
                        import pytest as _pytest

                        head_v = wh._latest_version("lab", "t")
                        with _pytest.raises(RuntimeError, match="BOTH sides"):
                            wh.merge_branch("lab", "t", name)
                        assert wh._latest_version("lab", "t") == head_v
                        wh.drop_branch("lab", "t", name)
                        del branches_model[name]
                        check()
                        v = wh._latest_version("lab", "t")
                        if v is not None:
                            # the FIRST model's state tuple (files, dels,
                            # seq dels) — a copy-paste of the DML model's
                            # rows-dict shape sat here unexecuted until
                            # the r13 example-DB reset reached this path
                            states[v] = (
                                frozenset(model),
                                {
                                    k: frozenset(x)
                                    for k, x in dels_model.items()
                                },
                                {
                                    k: frozenset(x)
                                    for k, x in seq_dels_model.items()
                                },
                            )
                        continue
                    out = wh.merge_branch("lab", "t", name)
                    assert out["strategy"] == "cherry_pick"
                    if out.get("schema_adopted") is not None:
                        # branch-only DDL adopted: apply its effects to
                        # the models (states-equal merges changed nothing
                        # main's own ops hadn't already applied)
                        for c in bm["ddl_cols"]:
                            schema_model.append(
                                {"name": c, "type": "int"}
                            )
                        if bm["spec_added"]:
                            spec_model = (
                                bm["fork_spec"]
                                if bm["fork_spec"] is not None
                                else []
                            ) + [bm["spec_added"]]
                            for tfm in spec_model:
                                spec_guard.add(tfm)
                    else:
                        assert not bm["ddl_cols"] or mstate == bstate
                    model |= {rel for _, rel in bm["staged"]}
                wh.drop_branch("lab", "t", name)
                del branches_model[name]
            elif op == "cherry_pick" and branches_model:
                name = sorted(branches_model)[pick % len(branches_model)]
                bm = branches_model[name]
                if bm["ddl_cols"] or bm["spec_added"]:
                    # staged-under-branch-DDL commits need the merge path
                    # (adoption); a lone pick refuses at the schema/pid
                    # fence
                    continue
                cands = [
                    (v, rel)
                    for v, rel in bm["staged"]
                    if v not in bm["picked"]
                    and rel not in model  # publish/earlier pick took it
                    and os.path.isfile(os.path.join(tdir, rel))  # not GC'd
                ]
                if not cands:
                    continue
                v, rel = cands[0]  # oldest-first, the documented order
                out = wh.cherry_pick("lab", "t", name, v)
                assert out["files_added"] == 1
                assert out["files_dropped"] == 0
                bm["picked"].add(v)
                model.add(rel)
            elif op == "publish" and branches_model:
                name = sorted(branches_model)[pick % len(branches_model)]
                bm = branches_model[name]
                main_v = wh._latest_version("lab", "t")
                if main_v == bm["fork"]:
                    wh.fast_forward("lab", "t", name)
                    # the branch's files ARE main's now; pending deletes
                    # carry verbatim, so their target sets are unchanged
                    model.clear()
                    model |= bm["files"]
                    for c in bm["ddl_cols"]:  # branch DDL publishes too
                        schema_model.append({"name": c, "type": "int"})
                    if bm["spec_added"]:  # branch spec DDL publishes too
                        spec_model = (
                            bm["fork_spec"] if bm["fork_spec"] is not None
                            else []
                        ) + [bm["spec_added"]]
                        for tfm in spec_model:
                            spec_guard.add(tfm)
                else:
                    import pytest as _pytest

                    if wh._snapshot_versions("lab", "t", name)[-1] != bm["fork"]:
                        with _pytest.raises(RuntimeError):
                            wh.fast_forward("lab", "t", name)
                    else:
                        # no staged commits: publish is a no-op either way
                        out = wh.fast_forward("lab", "t", name)
                        assert out["published"] == 0
            elif op == "drop_branch" and branches_model:
                name = sorted(branches_model)[pick % len(branches_model)]
                wh.drop_branch("lab", "t", name)
                del branches_model[name]
            elif op == "spec_ddl":
                if not wh._snapshot_versions("lab", "t") or not schema_model:
                    continue  # needs a recorded schema
                ddl_epoch += 1
                cur = spec_model if spec_model is not None else []
                names = [f["name"] for f in schema_model]
                addable = [n for n in names if n not in cur]
                head_before = wh._head_light("lab", "t")
                if cur and (pick % 2 or not addable):
                    victim = cur[pick % len(cur)]
                    wh.drop_partition_field("lab", "t", victim)
                    spec_model = [t for t in cur if t != victim]
                elif addable:
                    col = addable[pick % len(addable)]
                    wh.add_partition_field("lab", "t", col)
                    spec_model = cur + [col]
                    spec_guard.add(col)
                else:
                    ddl_epoch -= 1
                    continue
                head_after = wh._head_light("lab", "t")
                # metadata-only: segment refs carried over VERBATIM
                assert head_after["segments"] == head_before.get(
                    "segments", head_after["segments"]
                )
                assert head_after["version"] == head_before["version"] + 1
            elif op == "tag" and wh._snapshot_versions("lab", "t"):
                name = f"t{counter:03d}"
                wh.create_tag("lab", "t", name)
                tags_model[name] = wh._latest_version("lab", "t")
            elif op == "drop_tag" and tags_model:
                name = sorted(tags_model)[pick % len(tags_model)]
                wh.drop_tag("lab", "t", name)
                del tags_model[name]
            elif op == "rollback":
                vs = wh._snapshot_versions("lab", "t")
                cands = [v for v in vs[:-1] if v in states]
                if len(vs) < 2 or not cands:
                    continue
                v = cands[pick % len(cands)]
                files, dels, seqd = states[v]
                if seqd and not key_field_live():
                    import pytest as _pytest

                    # a restored pending eq delete would key on a field
                    # dropped since
                    with _pytest.raises(ValueError, match="dropped from"):
                        wh.rollback_to_snapshot("lab", "t", v)
                    continue
                out = wh.rollback_to_snapshot("lab", "t", v)
                assert out["rolled_back_to"] == v
                model.clear()
                model |= set(files)
                dels_model.clear()
                dels_model.update({k: set(x) for k, x in dels.items()})
                seq_dels_model.clear()
                seq_dels_model.update({k: set(x) for k, x in seqd.items()})
                # schema_model deliberately untouched: DDL not reverted
            elif op == "rewrite" and model:
                wh.rewrite_manifests("lab", "t")
            elif op == "expire" and wh._snapshot_versions("lab", "t"):
                wh.expire_snapshots("lab", "t", keep_last=(pick % 3) + 1)
                snap_dir = wh._snap_dir("lab", "t")
                kept_refs = {
                    name
                    for v in wh._snapshot_versions("lab", "t")
                    for name in wh._seg_ref_names(
                        wh._load_head_light("lab", "t", v)
                    )
                }
                for b in branches_model:
                    for bv in wh._snapshot_versions("lab", "t", b):
                        kept_refs |= wh._seg_ref_names(
                            wh._load_head_light("lab", "t", bv, b)
                        )
                on_disk = {
                    fn for fn in os.listdir(snap_dir) if fn.startswith("seg_")
                }
                assert on_disk == kept_refs  # exact segment GC
                # exact delete-file GC: on-disk tuples files are exactly
                # the kept heads' references (an entry whose targets
                # emptied lingers on disk until its last referencing head
                # expires — then it must be gone)
                kept_dels = {
                    d["path"]
                    for v in wh._snapshot_versions("lab", "t")
                    for d in wh._head_deletes(
                        "lab", "t", wh._load_head_light("lab", "t", v)
                    )
                }
                for b in branches_model:
                    for bv in wh._snapshot_versions("lab", "t", b):
                        kept_dels |= {
                            d["path"]
                            for d in wh._head_deletes(
                                "lab", "t",
                                wh._load_head_light("lab", "t", bv, b),
                            )
                        }
                dels_dir = os.path.join(tdir, "deletes")
                on_disk_dels = (
                    {
                        os.path.relpath(os.path.join(b, fn), tdir)
                        for b, _dd, fns in os.walk(dels_dir)
                        for fn in fns
                        if fn.endswith(".parquet")
                    }
                    if os.path.isdir(dels_dir)
                    else set()
                )
                assert on_disk_dels == kept_dels
                # exact bloom-blob GC (VERDICT r12 #1): on-disk sidecars
                # are exactly the kept heads' entry references — expiry
                # never strands a dead blob nor deletes a live one
                kept_blobs = set()
                for kv in wh._snapshot_versions("lab", "t"):
                    for e in wh._load_snapshot("lab", "t", kv)["files"]:
                        kept_blobs.update(e.get("bloom", {}).values())
                for b in branches_model:
                    for bv in wh._snapshot_versions("lab", "t", b):
                        for e in wh._load_snapshot("lab", "t", bv, b)[
                            "files"
                        ]:
                            kept_blobs.update(e.get("bloom", {}).values())
                bdir = os.path.join(tdir, "blooms")
                on_disk_blobs = (
                    {
                        os.path.join("blooms", fn)
                        for fn in os.listdir(bdir)
                    }
                    if os.path.isdir(bdir)
                    else set()
                )
                assert on_disk_blobs == kept_blobs
            check()
            v = wh._latest_version("lab", "t")
            if v is not None:
                states[v] = (
                    frozenset(model),
                    {k: frozenset(x) for k, x in dels_model.items()},
                    {k: frozenset(x) for k, x in seq_dels_model.items()},
                )

        # the age-gated orphan sweep must never touch a live file
        if model:
            wh.remove_orphan_files("lab", "t", older_than_s=0)
            for rel in model:
                assert os.path.isfile(os.path.join(tdir, rel)), rel
            for rel in list(dels_model) + list(seq_dels_model):
                assert os.path.isfile(os.path.join(tdir, rel)), rel
            check()


# --- Sparkful DML model (VERDICT r7 #4): row-level ops vs a dict model ----

DML_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            [
                "append",
                "cow_delete", "mor_delete",
                "cow_update", "mor_update",
                "eq_delete", "mor_upsert",
                # r12 conditional MERGE: freshness-guarded update +
                # tombstone delete clauses resolved against the model
                "merge_into",
                # r12 partition-spec evolution interleaved with row-level
                # DML: every read after a toggle crosses MIXED layouts
                # (per-(sid,pid) groups), metadata-only deletes fire per
                # spec, rollback keeps the spec, the changelog skips it
                "spec_ddl",
                "rename", "expire", "tag",
                # r13 per-file key blooms: a membership prune mid-history
                # must consult the sidecars and stay EXACT whatever mix
                # of DML/DDL produced the current file set
                "bloom_prune",
                # r11: rollback interleaved with row-level DML — the read
                # must equal the row model the table had at the target
                # version, under the CURRENT (non-reverted) schema
                "rollback",
                # r19 delete-scoped fold: rewrite only delete-target
                # files, retire the pending set exactly — rows invariant
                # whatever DML/DDL produced the stack, census at zero
                "fold_pending",
            ]
        ),
        st.integers(0, 9),
    ),
    min_size=2,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(ops=DML_OPS)
def test_random_dml_sequences_match_row_model(spark, ops):
    """Copy-on-write AND merge-on-read delete/update interleaved with
    appends, column renames, expiry, and tags — the read must equal a
    plain Python row model after every operation, whatever the history.
    This is the net that caught the rewrite_manifests schema-carry bug,
    pointed at the newest head-writing paths (VERDICT r7 #2/#4)."""
    with _mk_wh() as wh:
        wh.spark = spark
        rows: dict[int, dict] = {}  # id -> {vcol: int, k: int}
        vcol = "v"  # current name of the renamed column
        spec_on = False  # identity partition field on k currently active
        next_id = 0
        tagged: list[tuple[int, dict]] = []  # (version, rows snapshot)
        states: dict[int, dict] = {}  # main version -> rows snapshot

        def check():
            if not wh._snapshot_versions("lab", "t"):
                return
            got = {
                r["id"]: {"k": r["k"], vcol: r[vcol]}
                for r in (
                    x.asDict() for x in wh.read("lab", "t").collect()
                )
            }
            want = {
                i: {"k": r["k"], vcol: r["v"]} for i, r in rows.items()
            }
            assert got == want

        for op, pick in ops:
            if op == "append":
                n = (pick % 3) + 1
                batch = [(next_id + j, (next_id + j) % 3, pick) for j in range(n)]
                next_id += n
                df = spark.createDataFrame(
                    batch, f"id int, k int, {vcol} int"
                )
                wh.append("lab", "t", df, batch_id=f"b{next_id:04d}")
                for i, k, v in batch:
                    rows[i] = {"k": k, "v": v}
            elif op in ("cow_delete", "mor_delete") and rows:
                k = pick % 3
                wh.delete_where(
                    "lab", "t", f"k = {k}",
                    mode="merge-on-read" if op == "mor_delete" else "copy-on-write",
                )
                rows = {i: r for i, r in rows.items() if r["k"] != k}
            elif op in ("cow_update", "mor_update") and rows:
                k = pick % 3
                wh.update_where(
                    "lab", "t", f"k = {k}", {vcol: f"{vcol} + 100"},
                    mode="merge-on-read" if op == "mor_update" else "copy-on-write",
                )
                for r in rows.values():
                    if r["k"] == k:
                        r["v"] += 100
            elif op == "eq_delete" and rows:
                victims = sorted(rows)[pick % len(rows):][:2]
                wh.delete_by_keys("lab", "t", victims, eq_cols=["id"])
                for i in victims:
                    rows.pop(i, None)
            elif op == "mor_upsert" and rows:
                # one update of an existing key + one insert + maybe one
                # tombstone — the streaming-CDC batch shape
                upd_id = sorted(rows)[pick % len(rows)]
                batch = [
                    (upd_id, rows[upd_id]["k"], pick + 200, False),
                    (next_id, next_id % 3, pick, False),
                ]
                dead_id = None
                if len(rows) > 1 and pick % 2:
                    dead_id = sorted(rows)[(pick + 1) % len(rows)]
                    if dead_id != upd_id:
                        batch.append((dead_id, 0, 0, True))
                    else:
                        dead_id = None
                next_id += 1
                df = spark.createDataFrame(
                    batch, f"id int, k int, {vcol} int, dead boolean"
                )
                wh.merge_upsert(
                    "lab", "t", df, ["id"],
                    delete_col="dead", mode="merge-on-read",
                )
                for i, k, v, dead in batch:
                    if dead:
                        rows.pop(i, None)
                    else:
                        rows[i] = {"k": k, "v": v}
            elif op == "merge_into" and rows:
                # one matched row (fresh update, stale no-op, or
                # tombstone — clause resolution under test) + one insert
                tgt_id = sorted(rows)[pick % len(rows)]
                cur_v = rows[tgt_id]["v"]
                fresh = pick % 3 != 0
                sv = cur_v + 1 if fresh else cur_v - 1
                tomb = pick % 4 == 0
                batch = [
                    (tgt_id, rows[tgt_id]["k"], sv, "D" if tomb else "U"),
                    (next_id, next_id % 3, pick, "U"),
                ]
                ins_id = next_id
                next_id += 1
                df = spark.createDataFrame(
                    batch, f"id int, k int, {vcol} int, op string"
                )
                wh.merge_into(
                    "lab", "t", df, ["id"],
                    matched_condition=f"s.{vcol} > t.{vcol}",
                    matched_delete="s.op = 'D'",
                    mode="merge-on-read" if pick % 2 else "copy-on-write",
                )
                if tomb:
                    rows.pop(tgt_id, None)
                elif sv > cur_v:
                    rows[tgt_id] = {"k": rows[tgt_id]["k"], "v": sv}
                rows[ins_id] = {"k": ins_id % 3, "v": pick}
            elif op == "bloom_prune" and rows:
                # point-membership prune through the bloom sidecars: the
                # pruned+filtered read must equal the model exactly, and
                # the blobs must actually be CONSULTED (cache cleared ->
                # loads counted) — never over-prune, never skip silently
                i = sorted(rows)[pick % len(rows)]
                wh._bloom_cache.clear()
                loads0 = wh._bloom_loads
                got = {
                    r["id"]
                    for r in wh.read_pruned("lab", "t", {"id": [i]})
                    .filter(f"id = {i}")
                    .collect()
                }
                assert got == {i}
                assert wh._bloom_loads > loads0
            elif op == "spec_ddl":
                if not wh._snapshot_versions("lab", "t"):
                    continue
                if spec_on:
                    wh.drop_partition_field("lab", "t", "k")
                else:
                    wh.add_partition_field("lab", "t", "k")
                spec_on = not spec_on
                assert wh.partition_spec("lab", "t")["transforms"] == (
                    ["k"] if spec_on else []
                )
            elif op == "rollback":
                vs = wh._snapshot_versions("lab", "t")
                cands = [v for v in vs[:-1] if v in states]
                if len(vs) < 2 or not cands:
                    continue
                v = cands[pick % len(cands)]
                wh.rollback_to_snapshot("lab", "t", v)
                rows = {i: dict(r) for i, r in states[v].items()}
                # vcol deliberately untouched: DDL is not reverted — the
                # restored entries resolve via field ids under the
                # current name
            elif op == "rename" and wh._snapshot_versions("lab", "t"):
                new = "w" if vcol == "v" else "v"
                wh.rename_column("lab", "t", vcol, new)
                vcol = new
            elif op == "fold_pending" and wh._snapshot_versions("lab", "t"):
                wh.fold_pending_deletes("lab", "t")
                assert wh.pending_delete_stats("lab", "t") == {
                    "entries": 0, "rows": 0,
                }
            elif op == "expire" and wh._snapshot_versions("lab", "t"):
                wh.expire_snapshots("lab", "t", keep_last=(pick % 2) + 1)
            elif op == "tag" and wh._snapshot_versions("lab", "t"):
                v = wh._latest_version("lab", "t")
                if f"tg{v}" not in wh.tags("lab", "t"):
                    wh.create_tag("lab", "t", f"tg{v}")
                    tagged.append((v, {i: dict(r) for i, r in rows.items()}))
            check()
            v = wh._latest_version("lab", "t")
            if v is not None:
                states[v] = {i: dict(r) for i, r in rows.items()}

        # tagged snapshots time-travel to their exact row sets (deletes,
        # updates, and schema all versioned together)
        for v, snap_rows in tagged[-2:]:
            got_ids = {
                r.asDict()["id"]
                for r in wh.read_snapshot("lab", "t", v).collect()
            }
            assert got_ids == set(snap_rows)

        # r11 changelog invariant over the longest contiguous retained
        # window: start + inserts - deletes == end (multiset), renamed
        # columns mapped by FIELD ID — whatever DML the ops mixed in
        versions = wh._snapshot_versions("lab", "t")
        if len(versions) >= 2:
            fv = versions[-1]
            for pv in reversed(versions[:-1]):
                if pv == fv - 1:
                    fv = pv
                else:
                    break  # tag retention gap: window must be dense
            if fv != versions[-1]:
                try:
                    ch = wh.read_changes("lab", "t", fv)
                except ValueError as e:
                    assert "rollback" in str(e)  # the one legal refusal
                else:
                    from collections import Counter

                    end = wh.read("lab", "t")
                    cols = end.columns
                    id2new = {
                        f["id"]: f["name"]
                        for f in wh.table_schema("lab", "t")
                    }
                    start = wh.read_snapshot("lab", "t", fv)
                    start = start.select(*[
                        start[f["name"]].alias(id2new[f["id"]])
                        for f in wh.table_schema("lab", "t", fv)
                        if f["id"] in id2new
                    ])

                    def ms(df):
                        return Counter(
                            tuple(r[c] for c in cols)
                            for r in df.select(*cols).collect()
                        )

                    got = ms(start)
                    got.update(ms(ch.filter("_change_type = 'insert'")))
                    got.subtract(ms(ch.filter("_change_type = 'delete'")))
                    assert +got == ms(end)
                    assert not -got  # no over-deletion either

                    # r15 (VERDICT r14 #3): the keys-only changelog must
                    # be a SUPERSET of the row-exact changelog's keys
                    # over the same window — including renamed key
                    # columns, spec DDL, and every DML mix the ops drew
                    # (key on (id, vcol): a rename-in-window forces the
                    # field-id resolution path)
                    tk = wh.touched_keys("lab", "t", fv, key_cols=["id", vcol])
                    assert tk is not None
                    touched = {
                        (r["id"], r[vcol]) for r in tk.collect()
                    }
                    true_changed = {
                        (r["id"], r[vcol])
                        for r in ch.select("id", vcol).collect()
                    }
                    assert true_changed <= touched, (
                        true_changed - touched
                    )
