"""Changelog-driven incremental materialized view (VERDICT r11 #6).

The batch-CDC twin of the streaming ``stream_upsert_latest_into_warehouse``
sink (streaming/events_stream.py:285): a KEEP-LATEST snapshot table is
maintained from a source log table's CHANGELOG pulls instead of a
micro-batch stream — the shape a training-corpus pipeline uses when the
upstream is an Iceberg-style table written by someone else's job, not a
Kafka topic.  One maintenance tick is::

    consume_changes(src, ckpt, process)       # at-least-once CDC pull
      keys   = DISTINCT key tuples in the window's changelog
      latest = keep_latest(src rows for those keys)   # delta-scoped
      merge_upsert(mv, latest + tombstones for vanished keys)

i.e. DELTA-SCOPED REFRESH: only keys the window touched are recomputed,
from the source's current state — O(changed keys) work per tick however
large the MV (the pattern Materialize/Delta's incremental MERGE
maintenance uses for arg-max views, where a delete of the current
maximum needs the surviving rows, which row-deltas alone cannot give).
The ordering is ``operators/dedup.py:keep_latest`` — THE single
keep-latest definition, so the batch query, the streaming sink, and
this maintainer can never drift from each other.

At-least-once semantics compose: a re-delivered window re-refreshes the
same keys to the same (or newer) source state — idempotent toward
convergence.  A pull that observes source commits NEWER than its window
refreshes those keys early; the next pull re-refreshes them — monotone
toward the source's keep-latest, exact once ticks drain the log (the
convergence contract ``test_incremental_mv`` pins over randomized DML).

CRASH ORDERING (ADVICE r13 medium): every bootstrap / lost-checkpoint
reconcile COMMITS THE MV FIRST and only then initializes the checkpoint
file, at the exact source version the recompute read.  The previous
shape (consume_changes initializes the checkpoint at head, THEN the
reconcile merges) left a window where a crash strands ckpt@head over an
MV whose coverage is older — the skipped versions would never redeliver.
With commit-before-checkpoint every crash point re-enters bootstrap or
redelivers a window the MV already covers (idempotent for keep-latest,
watermark-filtered for aggregates).

MV-OVER-MV CHAINING (VERDICT r16 #1 — the dataflow DAG).  An MV is an
ordinary log table whose ticks land as ordinary commits (merge_upsert
``"merge_upsert"`` ops, never a changelog-skip op), so ANY maintainer
accepts another MV as its source — keep-latest -> agg rollup,
keep-latest -> top-N, join MV -> anything.  The contract
(``tests/test_mv_chain.py`` pins all of it):

- TICK ORDERING: ticks may run in any order.  Each upstream tick is
  one atomic commit (keep-latest/top-N/agg: exactly one merge_upsert
  or append per delivered window; the join MV commits once per side's
  pull, each a consistent keyed state), so a downstream pull only ever
  sees complete upstream states.  Downstream-before-upstream is
  stale-but-consistent; upstream-before-downstream is fresh.  A DRAIN
  (tick every stage once in topological order, after the last source
  change) makes the whole chain exact.
- RACES: a downstream pull racing an upstream commit is convergent —
  consume_changes windows are (ckpt, head-at-pull]; a commit landing
  after the head resolution is simply the next window.
- WATERMARKS COMPOSE PER EDGE: each stage owns one checkpoint keyed to
  ITS source's commit versions; the agg maintainer's ``mv_applied_to``
  watermark likewise stores the UPSTREAM MV's commit version inside
  the downstream MV's own commits.  Nothing global is shared, so
  crash/redelivery reasoning stays per-edge (the per-maintainer crash
  nets carry over unchanged).
- MODE GUIDANCE FOR FEEDER MVs depends on the DOWNSTREAM consumer
  type (measured: PERF.md r17).
  KEYED downstream consumers (keep-latest/top-N/join MV, the batched
  MERGE apply) need a MERGE-ON-READ feeder: a CoW tick rewrites every
  file, so ``touched_keys`` over its commit is EVERY key — each
  downstream tick degrades to a full refresh.  The AGGREGATE
  downstream (row-exact windows) is the opposite at moderate feeder
  sizes: a CoW feeder's window is O(MV) rows but linear-scan-shaped
  (one groupBy; unchanged pairs cancel), measured CHEAPER at a 4M-row
  feeder (post-compaction tick 2.6-3.3 s flat) than the MoR feeder's
  O(batch) window whose per-delete-commit diff plans grow between
  compaction folds (2.9 -> 7.8 s) — while at much larger feeders the
  O(MV) window must lose.  Correctness never depends on the mode —
  CoW rewrite pairs cancel in aggregate algebra, and keyed refreshes
  are superset-tolerant; the mode only moves tick cost.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, functions as F

from hands_on_iceberg_compression_spark.operators.dedup import keep_latest

_DEL = "__mv_del"

# Route the keep-latest refresh's source read through manifest pruning
# when the window touched at most this many keys: the touched-key set
# becomes a discrete membership spec that bounds AND per-file bloom
# filters can skip files by (VERDICT r13 #6 — small windows are exactly
# the B <= file-count regime where membership discriminates).  Above
# the cap, collecting keys to the driver stops paying for itself and
# most files genuinely contain window keys anyway (the B-vs-F law).
_MV_PRUNE_KEYS_MAX = 1024


def _init_checkpoint(
    checkpoint_file: str, version: int, branch: str = "main"
) -> None:
    """Atomically initialize a consume_changes checkpoint at ``version``
    — same file format and tmp+rename protocol as consume_changes' own
    writes.  Called ONLY after the covering MV commit has landed, so the
    checkpoint can never point past what the MV has applied."""
    os.makedirs(
        os.path.dirname(os.path.abspath(checkpoint_file)), exist_ok=True
    )
    tmp = checkpoint_file + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"version": version, "branch": branch}, f)
    os.replace(tmp, checkpoint_file)


def _ckpt_state(checkpoint_file: str) -> dict | None:
    """The checkpoint's full parsed state ({"version", "branch"}) or
    None when un-bootstrapped — ONE read, so callers needing both
    fields can never see them from different writes (ADVICE r17: the
    read-version-then-reopen-for-branch shape raised FileNotFoundError
    on a file replaced between the two reads)."""
    try:
        with open(checkpoint_file) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _ckpt_version(checkpoint_file: str) -> int | None:
    st = _ckpt_state(checkpoint_file)
    return None if st is None else st.get("version")


def _validate_policy(policy: dict | None) -> None:
    """Delegates to the canonical ``validate_maintenance_policy``
    (sources/warehouse.py since r19 — merge_upsert shares it); kept as
    the pipeline-layer name every maintainer imports."""
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        validate_maintenance_policy,
    )

    validate_maintenance_policy(policy)


def _maybe_auto_fold(
    wh, mschema: str, mtable: str, policy: dict | None,
    branch: str = "main", default_scope: str = "full",
) -> dict | None:
    """Delete-stack-aware AUTO-FOLD (r18, VERDICT r17 #1): when the
    table's pending merge-on-read delete stack exceeds the policy
    thresholds, run a full ``optimize()`` on it — the fold that reads
    delete-APPLIED rows, drops the victims, and clears the pending set
    (the r08 machinery; its deletes_read_version race fence rides along
    unchanged, since this is the same optimize() call sites pass).

    The measured failure mode this bounds (PERF.md r17 --mv-chain): a
    MoR-maintained feeder MV stacks delete entries whose per-commit
    changelog diff plans grow every tick (2.9 -> 7.8 s between manual
    folds at 4M) — the fold cadence used to be the operator's problem.
    With ``maintenance_policy={"max_pending_delete_entries": K}`` on
    the maintainer, the census runs every tick from head JSON alone
    (``pending_delete_stats`` — zero Spark jobs, no segment parse) and
    the fold fires only past the threshold, so steady-state ticks pay
    nothing and the series stays bounded with no external compaction
    schedule (measured: PERF.md r18 --auto-fold — unbounded arm +30%
    and climbing over 24 epochs, policy arm a bounded sawtooth).  The
    policy folds what the maintainer OWNS — its MV, or the CDC apply
    target; the SOURCE's own delete stack belongs to the source's
    ingest maintenance (stream_into_warehouse maintenance_every / the
    writer's optimize cadence).

    FOLD SCOPE (r19, VERDICT r18 #2): the full ``optimize()`` fire is
    O(MV rows) — right for the MV maintainers' small owned state (also
    compacts fragmentation), which is why their ``default_scope`` is
    "full"; the UNBOUNDED targets (``merge_into_batched``'s mirror,
    the streaming CDC sink) default to "pending" —
    ``fold_pending_deletes`` rewrites only the files a pending delete
    still applies to (O(touched files)) and retires the set exactly.
    ``policy["fold_scope"]`` overrides either way.  Body delegates to
    the canonical ``Warehouse.apply_maintenance_policy`` (one
    implementation also serves ``merge_upsert``).  Returns
    {"pending_delete_entries", "pending_delete_rows", "scope",
    "files"[, "victims", "retired"]} when it folded, else None."""
    return wh.apply_maintenance_policy(
        mschema, mtable, policy, branch=branch, default_scope=default_scope
    )


def _evolve_mv_schema(
    wh, mv, batch_cols, src_types, evolve, mv_branch: str = "main"
) -> None:
    """Propagate SOURCE schema evolution into the MV (r17): refresh
    batches may carry columns the MV's recorded schema lacks (the
    source grew a column since the MV bootstrapped), and merge
    conformance SILENTLY DROPS unknown columns — the data-loss
    direction.  With ``evolve`` (the maintainers' default) each new
    column is ``add_column``'d on the MV first — a metadata-only
    commit typed from the SOURCE's recorded schema, matched by NAME
    (MV field ids are not linked to the source's); with
    ``evolve=False`` the tick refuses loudly instead.  Convergence is
    exact either side of the evolution: un-refreshed MV keys read NULL
    for the new column, and so do their source rows (they were written
    before the column existed).  Dropped source columns degrade
    gracefully without DDL — refresh batches omit them and merge
    conformance NULL-fills, so they fade to NULL per refreshed key;
    type changes are NOT propagated (widening the MV is a deliberate
    operator DDL).  An MV with no commit yet has nothing recorded to
    evolve and is skipped."""
    mschema, mtable = mv
    if wh.current_version(mschema, mtable, mv_branch) is None:
        return
    mv_types = {
        f["name"]: f["type"]
        for f in wh.table_schema(mschema, mtable, branch=mv_branch)
    }
    # TYPE-DIVERGED shared columns refuse with full context (VERDICT
    # r17 #6 — the raw conformance error surfaced from deep inside the
    # merge without naming the sides).  A source type that legally
    # widens INTO the MV's recorded type is fine (conformance upcasts);
    # the other direction needs a deliberate MV widening — type changes
    # are never auto-propagated.
    diverged = [
        (c, src_types[c], mv_types[c])
        for c in batch_cols
        if c != _DEL
        and c in mv_types
        and c in src_types
        and src_types[c] != mv_types[c]
        and not wh._is_type_widening(src_types[c], mv_types[c])
    ]
    if diverged:
        detail = "; ".join(
            f"{c!r} is {s} at the source but {m} in the MV"
            for c, s, m in diverged
        )
        raise ValueError(
            f"source column type(s) diverged from MV "
            f"{mschema}.{mtable}: {detail} — widen the MV first "
            "(update_column_type/widen_column) or realign the source; "
            "type changes are never auto-propagated"
        )
    new = [c for c in batch_cols if c != _DEL and c not in mv_types]
    if not new:
        return
    if not evolve:
        raise ValueError(
            f"source evolution added column(s) {new} the MV "
            f"{mschema}.{mtable} lacks — merge conformance would "
            "silently drop them; rerun with evolve_schema=True (the "
            "default) or add_column on the MV yourself"
        )
    for c in new:
        if c not in src_types:
            raise ValueError(
                f"refresh batch column {c!r} is in no source's "
                "recorded schema — cannot derive a type to evolve the "
                f"MV {mschema}.{mtable} with"
            )
        wh.add_column(mschema, mtable, c, src_types[c], branch=mv_branch)


def _src_types(wh, schema: str, table: str, branch: str) -> dict:
    """name -> recorded type of a source's CURRENT schema (empty before
    its first commit — a new column with no recorded type then refuses
    in _evolve_mv_schema rather than silently dropping)."""
    if wh.current_version(schema, table, branch) is None:
        return {}
    return {
        f["name"]: f["type"]
        for f in wh.table_schema(schema, table, branch=branch)
    }


def _keys_changelog(wh, cols: list[str], rename=None):
    """``consume_changes`` changelog_fn pulling the KEYS-ONLY changelog
    (``warehouse.touched_keys``, a superset) of ``cols``; ``rename``
    maps a source's physical key names to the consumer's.  The frame is
    checkpointed here so the emptiness probe and every process action
    share one execution of the window read (r15: the probe used to
    re-drive the whole touched-keys plan)."""

    def fn(s, t, fv, tv, net=True, branch="main"):
        df = wh.touched_keys(s, t, fv, tv, cols, branch=branch)
        if rename is not None:
            df = rename(df)
        try:
            df = df.localCheckpoint(eager=True)
        except Exception:
            pass
        return df

    return fn


def maintain_keep_latest_mv(
    wh,
    src: tuple[str, str],
    mv: tuple[str, str],
    key_cols: list[str],
    ts_col: str = "ts",
    tie_col: str = "event_id",
    checkpoint_file: str = "",
    mode: str = "merge-on-read",
    net: bool = True,
    prune_source: bool = True,
    keys_only: bool = True,
    src_branch: str = "main",
    evolve_schema: bool = True,
    maintenance_policy: dict | None = None,
    value_cols: list[str] | None = None,
) -> dict:
    """ONE maintenance tick: pull the source changelog since the
    checkpoint and refresh exactly the touched keys in the MV.  Returns
    consume_changes' {"from", "to", "delivered"} plus "keys_refreshed".
    The MV table must exist (create_table); its first tick bootstraps
    it with a plain append.  ``mode`` is merge_upsert's write strategy —
    merge-on-read keeps each tick O(window) IO.  ``prune_source`` routes
    the refresh's source read through manifest pruning for windows of
    <= _MV_PRUNE_KEYS_MAX keys (bounds + bloom membership file skipping
    on the hot tick path; pruning is conservative and the semi-join
    stays the exact filter, so results are identical either way).
    ``keys_only`` (default, r14) pulls the KEYS-ONLY changelog
    (``warehouse.touched_keys`` — a conservative superset, column-pruned,
    no per-delete-commit row diffs) instead of the row-exact changelog:
    this maintainer only ever uses the window's DISTINCT keys, and
    refreshing an over-approximated key is a no-op, so the cheap
    substrate is exactly sufficient.  ``src_branch`` (r16) pulls
    the changelog from a SOURCE BRANCH (the staging workflow) — the
    checkpoint records the ref and refuses cross-ref pulls; the MV
    itself stays on main.  ``evolve_schema`` (r17) propagates source
    ``add_column`` evolution into the MV before each merge (see
    ``_evolve_mv_schema`` — without it merge conformance silently
    drops the new columns); False refuses loudly instead.
    ``maintenance_policy`` (r18) bounds the MV's pending MoR delete
    stack: past {"max_pending_delete_entries"/"max_pending_delete_rows"}
    the tick ends with an ``optimize()`` fold of the MV (see
    ``_maybe_auto_fold`` — the census is zero-job head metadata, so
    under-threshold ticks pay nothing); the result gains "auto_fold"
    when it fired.  ``value_cols`` (r18) PROJECTS the MV to
    ``key_cols + [ts_col, tie_col] + value_cols`` — the column-pruned
    MV shape (keep the ordering columns so the MV stays a valid CDC
    source for downstream maintainers; two projected siblings of one
    feeder have disjoint value columns, which is what lets a JOIN MV
    recombine them — the diamond topology); source columns outside the
    projection never reach the MV, including evolution (add the new
    column to ``value_cols`` to start carrying it)."""
    if not checkpoint_file:
        raise ValueError(
            "checkpoint_file is required — the maintainer's whole "
            "contract is checkpointed changelog pulls"
        )
    _validate_policy(maintenance_policy)
    if value_cols is not None:
        dup = set(value_cols) & (set(key_cols) | {ts_col, tie_col})
        if dup:
            raise ValueError(
                f"value_cols {sorted(dup)} duplicate key/ordering "
                "columns — the projection always carries "
                "key_cols + [ts_col, tie_col]"
            )
        if len(set(value_cols)) != len(value_cols):
            raise ValueError(
                f"value_cols {value_cols} contains duplicates — a "
                "repeated name would produce duplicate MV columns"
            )
    proj = (
        [*key_cols, ts_col, tie_col, *value_cols]
        if value_cols is not None
        else None
    )

    def _project(df: DataFrame) -> DataFrame:
        return df.select(*proj) if proj else df

    sschema, stable = src
    mschema, mtable = mv
    mode = _resolve_mv_mode(wh, mschema, mtable, mode)
    out = {"keys_refreshed": 0}
    # Bootstrap whenever the checkpoint is missing OR the MV has never
    # committed (ADVICE r12 medium): a crash between a past checkpoint
    # init and the bootstrap refresh must re-enter bootstrap, or
    # pre-existing source rows would never reach the MV.
    ckpt_v = _ckpt_version(checkpoint_file)
    bootstrap = ckpt_v is None or not wh._snapshot_versions(mschema, mtable)
    head_v = wh._latest_version(sschema, stable, src_branch)
    if bootstrap and head_v is not None and not (
        ckpt_v is not None and ckpt_v > head_v
    ):
        # FULL refresh at a PINNED version, COMMITTED BEFORE the
        # checkpoint moves (the ADVICE r13 ordering): the changelog
        # cannot replay from before the log's first retained snapshot,
        # so the bootstrap is a full refresh (initial load + incremental
        # ever after, the standard MV pattern).  A crash before the
        # commit re-enters bootstrap; a crash between the commit and the
        # checkpoint init re-enters bootstrap too (reconcile is
        # idempotent); after both, the incremental pull below resumes
        # exactly at head_v.  (ckpt_v > head_v = recreated/stale source
        # table — fall through so consume_changes raises its standard
        # error without touching the MV.)
        latest = _project(keep_latest(
            wh.read_snapshot(sschema, stable, head_v, branch=src_branch),
            key_cols, ts_col, tie_col,
        ))
        if not wh._snapshot_versions(mschema, mtable):
            wh.append(mschema, mtable, latest, batch_id="mv_bootstrap")
        else:
            # MV survived a lost checkpoint: RECONCILE — refresh every
            # key and tombstone MV keys the source no longer has
            _evolve_mv_schema(
                wh, mv, latest.columns,
                _src_types(wh, sschema, stable, src_branch),
                evolve_schema,
            )
            gone = (
                wh.read(mschema, mtable)
                .select(*key_cols)
                .join(latest.select(*key_cols), key_cols, "left_anti")
            )
            batch = latest.withColumn(_DEL, F.lit(False)).unionByName(
                gone.withColumn(_DEL, F.lit(True)), allowMissingColumns=True
            )
            wh.merge_upsert(
                mschema, mtable, batch, key_cols, delete_col=_DEL, mode=mode
            )
        out["keys_refreshed"] = -1  # full refresh marker
        if ckpt_v is None:
            _init_checkpoint(checkpoint_file, head_v, src_branch)

    def process(ch: DataFrame) -> None:
        if list(ch.columns) == list(key_cols):
            # keys-only changelog: already DISTINCT key tuples, already
            # checkpointed by the wrapper — no extra shuffle/job (r15)
            keys = ch
        else:
            keys = ch.select(*key_cols).distinct()
            try:
                keys = keys.localCheckpoint(eager=True)
            except Exception:
                pass  # optimization only
        # ONE bounded collect answers the emptiness gate, the count (for
        # windows small enough to matter), and the pruning key set — the
        # separate count()+collect() pair was two fixed jobs per tick
        # (VERDICT r14 #1); windows past the cap pay one exact count()
        # for reporting and skip pruning exactly as before
        kv = keys.limit(_MV_PRUNE_KEYS_MAX + 1).collect()
        n_keys = (
            len(kv) if len(kv) <= _MV_PRUNE_KEYS_MAX else keys.count()
        )
        if out["keys_refreshed"] != -1:
            out["keys_refreshed"] = n_keys
        if n_keys == 0:
            return
        if prune_source and n_keys <= _MV_PRUNE_KEYS_MAX:
            # conjunctive per-column membership spec — a SUPERSET of the
            # exact tuple set for composite keys, so pruning is
            # conservative; files are skipped via bounds AND bloom
            # sidecars, and the semi-join below stays the exact filter
            spec = {c: list({r[c] for r in kv}) for c in key_cols}
            cur = wh.read_pruned(sschema, stable, spec, branch=src_branch)
        else:
            cur = wh.read(sschema, stable, src_branch)
        # no broadcast hint: a backfill or re-delivered window can touch
        # millions of keys, and forcing a broadcast would OOM the driver
        # on exactly the recovery path — below the auto-broadcast
        # threshold Spark broadcasts anyway (review r12 #4)
        latest = _project(keep_latest(
            cur.join(keys, key_cols, "leftsemi"),
            key_cols, ts_col, tie_col,
        ))
        _evolve_mv_schema(
            wh, mv, latest.columns,
            _src_types(wh, sschema, stable, src_branch), evolve_schema,
        )
        gone = keys.join(latest.select(*key_cols), key_cols, "left_anti")
        batch = latest.withColumn(_DEL, F.lit(False)).unionByName(
            gone.withColumn(_DEL, F.lit(True)), allowMissingColumns=True
        )
        wh.merge_upsert(
            mschema, mtable, batch, key_cols, delete_col=_DEL, mode=mode
        )

    # Always-incremental pull — on a bootstrap tick the window is
    # (head_v, current head]: normally empty, and any commit that raced
    # in is refreshed here rather than silently skipped (the refresh is
    # key-idempotent, so covering the bootstrap's own window twice is
    # harmless).
    res = wh.consume_changes(
        sschema, stable, checkpoint_file, process, net=net,
        branch=src_branch,
        changelog_fn=_keys_changelog(wh, key_cols) if keys_only else None,
        superset_changelog=keys_only,
    )
    fold = _maybe_auto_fold(wh, mschema, mtable, maintenance_policy)
    if fold:
        out["auto_fold"] = fold
    return {**res, **out}


# --- incremental TOP-N-per-group MVs (r16, beyond-orders) -----------------


def maintain_topn_mv(
    wh,
    src: tuple[str, str],
    mv: tuple[str, str],
    group_cols: list[str],
    n: int,
    order_col: str,
    tie_col: str = "event_id",
    checkpoint_file: str = "",
    mode: str = "merge-on-read",
    prune_source: bool = True,
    keys_only: bool = True,
    src_branch: str = "main",
    descending: bool = True,
    evolve_schema: bool = True,
    maintenance_policy: dict | None = None,
    value_cols: list[str] | None = None,
) -> dict:
    """ONE maintenance tick of an incremental TOP-N-PER-GROUP view —
    the "best k documents per domain by quality score" shape a
    training-corpus pipeline keeps current while the corpus churns::

        MV = per group, the n source rows with the LARGEST
             (order_col, tie_col), ranked rk = 1..n

    (``descending=False`` ranks the SMALLEST first — the
    lowest-perplexity-wins quality-filter shape; ties still break by
    tie_col in the same direction.)

    Top-n is the keep-latest arg-max generalized from one row per key
    to n: like a delete of the current maximum, ANY change in a group
    can promote rows the changelog never mentions, so deltas alone
    cannot maintain it — the tick is the same delta-scoped refresh as
    ``maintain_keep_latest_mv`` (touched GROUPS recompute from the
    source's current state; group-idempotent, so the keys-only
    superset changelog is exactly sufficient).  The MV key is
    ``group_cols + [rk]``; a group whose survivors shrink below a rank
    tombstones that rank via a rank scaffold (touched groups ×
    1..n anti-join the new images).  ``(order_col, tie_col)`` must be
    unique per group (keep_latest's contract, extended): duplicates
    make ranks nondeterministic.  NULL order values sort LAST (Spark
    desc NULL ordering is pinned explicitly), so they only surface
    when a group has fewer than n non-null rows.

    Bootstrap/lost-checkpoint reconcile commit BEFORE the checkpoint
    initializes, at the pinned recompute version — the ADVICE r13
    ordering every maintainer follows.  ``evolve_schema`` (r17)
    propagates source ``add_column`` evolution into the MV before each
    merge (``_evolve_mv_schema``); False refuses loudly.
    ``maintenance_policy`` (r18) bounds the MV's pending MoR delete
    stack via an ``optimize()`` fold past the threshold (see
    ``_maybe_auto_fold``).  ``value_cols`` (r18) projects the MV to
    ``group_cols + [rk, order_col, tie_col] + value_cols`` — the
    column-pruned top-N shape ("best k docs per domain, carry only the
    url and score" over a wide corpus table); source columns outside
    the projection never reach the MV.  Returns
    consume_changes' result plus {"groups_refreshed": count | -1 for
    full refresh}."""
    from pyspark.sql.window import Window

    if not checkpoint_file:
        raise ValueError(
            "checkpoint_file is required — the maintainer's whole "
            "contract is checkpointed changelog pulls"
        )
    if n < 1:
        raise ValueError(f"n={n} — top-n needs n >= 1")
    _validate_policy(maintenance_policy)
    if value_cols is not None:
        dup = set(value_cols) & (
            set(group_cols) | {order_col, tie_col, "rk"}
        )
        if dup:
            raise ValueError(
                f"value_cols {sorted(dup)} duplicate group/rank/"
                "ordering columns — the projection always carries "
                "group_cols + [rk, order_col, tie_col]"
            )
        if len(set(value_cols)) != len(value_cols):
            raise ValueError(
                f"value_cols {value_cols} contains duplicates — a "
                "repeated name would produce duplicate MV columns"
            )
    proj = (
        [*group_cols, "rk", order_col, tie_col, *value_cols]
        if value_cols is not None
        else None
    )

    def _project(df: DataFrame) -> DataFrame:
        return df.select(*proj) if proj else df

    sschema, stable = src
    mschema, mtable = mv
    mode = _resolve_mv_mode(wh, mschema, mtable, mode)
    out = {"groups_refreshed": 0}
    if wh._latest_version(sschema, stable, src_branch) is not None:
        src_cols = wh.read(sschema, stable, src_branch).columns
        if "rk" in src_cols:
            raise ValueError(
                f"{sschema}.{stable} already has a column named 'rk' — "
                "the MV's rank column would silently overwrite it; "
                "rename the source column"
            )
        missing = [
            c for c in (*group_cols, order_col, tie_col)
            if c not in src_cols
        ]
        if missing:
            raise ValueError(
                f"column(s) {missing} not in {sschema}.{stable}"
            )
    _dir = (
        (lambda c: c.desc_nulls_last())
        if descending
        else (lambda c: c.asc_nulls_last())
    )
    w = Window.partitionBy(*group_cols).orderBy(
        _dir(F.col(order_col)), _dir(F.col(tie_col))
    )

    def top_images(rows: DataFrame) -> DataFrame:
        return rows.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= n
        )

    def rank_scaffold(keys: DataFrame) -> DataFrame:
        return keys.select(
            *group_cols,
            F.explode(F.sequence(F.lit(1), F.lit(n))).alias("rk"),
        )

    mv_key = [*group_cols, "rk"]

    ckpt_v = _ckpt_version(checkpoint_file)
    bootstrap = ckpt_v is None or not wh._snapshot_versions(mschema, mtable)
    head_v = wh._latest_version(sschema, stable, src_branch)
    if bootstrap and head_v is not None and not (
        ckpt_v is not None and ckpt_v > head_v
    ):
        state = _project(top_images(
            wh.read_snapshot(sschema, stable, head_v, branch=src_branch)
        ))
        if not wh._snapshot_versions(mschema, mtable):
            wh.append(mschema, mtable, state, batch_id="mv_bootstrap")
        else:
            # lost checkpoint: reconcile every (group, rk) and tombstone
            # MV keys the recompute no longer produces
            try:
                state = state.localCheckpoint(eager=True)
            except Exception:
                pass
            _evolve_mv_schema(
                wh, mv, state.columns,
                {**_src_types(wh, sschema, stable, src_branch),
                 "rk": "int"},
                evolve_schema,
            )
            gone = (
                wh.read(mschema, mtable)
                .select(*mv_key)
                .join(state.select(*mv_key), mv_key, "left_anti")
            )
            batch = state.withColumn(_DEL, F.lit(False)).unionByName(
                gone.withColumn(_DEL, F.lit(True)), allowMissingColumns=True
            )
            wh.merge_upsert(
                mschema, mtable, batch, mv_key, delete_col=_DEL, mode=mode
            )
        out["groups_refreshed"] = -1
        if ckpt_v is None:
            _init_checkpoint(checkpoint_file, head_v, src_branch)

    def process(ch: DataFrame) -> None:
        if list(ch.columns) == list(group_cols):
            keys = ch  # keys-only changelog: DISTINCT, checkpointed
        else:
            keys = ch.select(*group_cols).distinct()
            try:
                keys = keys.localCheckpoint(eager=True)
            except Exception:
                pass
        kv = keys.limit(_MV_PRUNE_KEYS_MAX + 1).collect()
        n_keys = (
            len(kv) if len(kv) <= _MV_PRUNE_KEYS_MAX else keys.count()
        )
        if out["groups_refreshed"] != -1:
            out["groups_refreshed"] = n_keys
        if n_keys == 0:
            return
        if prune_source and n_keys <= _MV_PRUNE_KEYS_MAX:
            spec = {c: list({r[c] for r in kv}) for c in group_cols}
            cur = wh.read_pruned(sschema, stable, spec, branch=src_branch)
        else:
            cur = wh.read(sschema, stable, src_branch)
        images = _project(top_images(cur.join(keys, group_cols, "leftsemi")))
        try:
            # feeds the batch AND the scaffold anti-join — one execution
            images = images.localCheckpoint(eager=True)
        except Exception:
            pass
        _evolve_mv_schema(
            wh, mv, images.columns,
            {**_src_types(wh, sschema, stable, src_branch), "rk": "int"},
            evolve_schema,
        )
        gone = rank_scaffold(keys).join(
            images.select(*mv_key), mv_key, "left_anti"
        )
        batch = images.withColumn(_DEL, F.lit(False)).unionByName(
            gone.withColumn(_DEL, F.lit(True)), allowMissingColumns=True
        )
        wh.merge_upsert(
            mschema, mtable, batch, mv_key, delete_col=_DEL, mode=mode
        )

    res = wh.consume_changes(
        sschema, stable, checkpoint_file, process, net=True,
        branch=src_branch,
        changelog_fn=_keys_changelog(wh, group_cols) if keys_only else None,
        superset_changelog=keys_only,
    )
    fold = _maybe_auto_fold(wh, mschema, mtable, maintenance_policy)
    if fold:
        out["auto_fold"] = fold
    return {**res, **out}


# --- incremental JOIN MVs (r15, beyond-orders) ----------------------------


def maintain_join_mv(
    wh,
    left: tuple[str, str],
    right: tuple[str, str],
    mv: tuple[str, str],
    key_cols: list[str],
    ts_col: str = "ts",
    tie_col: str = "event_id",
    checkpoint_left: str = "",
    checkpoint_right: str = "",
    mode: str = "merge-on-read",
    prune_source: bool = True,
    keys_only: bool = True,
    how: str = "inner",
    right_key_cols: list[str] | None = None,
    left_branch: str = "main",
    right_branch: str = "main",
    evolve_schema: bool = True,
    maintenance_policy: dict | None = None,
    left_value_cols: list[str] | None = None,
    right_value_cols: list[str] | None = None,
) -> dict:
    """ONE maintenance tick of an incremental EQUI-JOIN view::

        MV = keep_latest(left) JOIN keep_latest(right) ON key_cols

    — the Materialize/Delta-live-tables delta-join shape, maintained
    from BOTH sources' changelogs: a key touched on EITHER side has its
    join row recomputed from the sources' current keep-latest state;
    a touched key with no surviving join row tombstones.

    ``right_key_cols`` (r16) names the RIGHT side's join columns when
    they differ from the left's (``orders.user_id = users.id``) —
    positional with ``key_cols``; the right side is normalized to the
    left names everywhere (reads, pruning specs, its keys-only
    changelog), and the MV carries the LEFT names.

    ``how`` picks the join shape (VERDICT r15 #1): ``"inner"`` (both
    sides required) or ``"left"`` — the enrichment shape (facts joined
    to an OPTIONAL dimension): a surviving LEFT row with no right match
    lands a NULL-right image, a key whose LEFT row vanishes tombstones,
    and right-only keys never appear (a touched right-only key falls
    into the tombstone batch, a no-op against an MV that never held
    it).  Both shapes share the identical delta machinery — the join
    type only changes which touched keys survive the scoped recompute.

    Refreshing an untouched key is a no-op, so the cheap
    keys-only changelog (``touched_keys`` superset) is exactly
    sufficient — the same contract as ``maintain_keep_latest_mv``, per
    side.  The tick is two checkpointed pulls (one per source), each
    refreshing its own touched keys against BOTH sources — composition
    keeps the standard at-least-once contract per checkpoint, and a
    crash between the pulls just redelivers one side's window.

    The MV's key is the join key (1:1 per side via keep-latest); the
    ordering columns (``ts_col``/``tie_col`` — shared CDC convention on
    both sides) are mechanics and are DROPPED from the MV; remaining
    non-key column names must be DISJOINT between the sides (refused
    otherwise — no silent prefixing).  Bootstrap commits the full join
    at pinned source versions BEFORE initializing either checkpoint
    (the ADVICE r13 commit-before-checkpoint ordering), so a crash at
    any point re-enters bootstrap or redelivers a covered window.

    ``evolve_schema`` (r17) propagates either side's ``add_column``
    evolution into the MV before each merge (``_evolve_mv_schema``;
    value-column sets are re-captured per call, so a new source column
    joins the MV on the next tick); False refuses loudly.
    ``left_value_cols``/``right_value_cols`` (r18) select WHICH value
    columns each side contributes (right names are the right source's
    physical names) — the column-pruned join over two wide sources,
    and the escape hatch for overlapping names: disjoint selections
    compose where full-width would refuse.  With a selection active,
    source evolution outside it deliberately does not propagate.

    Returns {"left": <consume res>, "right": <consume res>,
    "keys_refreshed": total (-1 = full refresh)}."""
    if not checkpoint_left or not checkpoint_right:
        raise ValueError(
            "checkpoint_left and checkpoint_right are required — one "
            "checkpointed changelog pull per source"
        )
    _validate_policy(maintenance_policy)
    if how not in ("inner", "left"):
        raise ValueError(
            f"how={how!r} — supported join shapes are 'inner' and "
            "'left' (right/full outer have no single-owner key: a "
            "right-only key's MV row would need left-NULL images that "
            "tombstone rules cannot distinguish from vanished keys)"
        )
    lschema, ltable = left
    rschema, rtable = right
    mschema, mtable = mv
    rkeys = list(right_key_cols) if right_key_cols else list(key_cols)
    if len(rkeys) != len(key_cols):
        raise ValueError(
            f"right_key_cols has {len(rkeys)} column(s), key_cols has "
            f"{len(key_cols)} — they pair positionally"
        )
    r_map = {rc: kc for rc, kc in zip(rkeys, key_cols) if rc != kc}
    cross_clash = set(r_map) & set(key_cols)
    if cross_clash:
        # ADVICE r16: a right physical key name equal to a DIFFERENTLY-
        # paired left key name (['a','b'] vs right ['b','c'], or swapped
        # ['b','a']) makes the sequential rename chain produce duplicate
        # or mangled columns deep inside a tick — refuse up front
        raise ValueError(
            f"right key column(s) {sorted(cross_clash)} collide with "
            "differently-paired left key names — the rename chain "
            "cannot disambiguate them; rename the right source columns"
        )

    def _r(df: DataFrame) -> DataFrame:
        """Normalize RIGHT-side key names to the MV's (left) names.
        Apply only to right-side frames — left frames already carry the
        MV names (and the cross_clash refusal above guarantees no left
        key name is also a rename source)."""
        for rc, kc in r_map.items():
            df = df.withColumnRenamed(rc, kc)
        return df

    drop = set(key_cols) | {ts_col, tie_col}
    l_val = [
        c
        for c in wh.read(lschema, ltable, left_branch).columns
        if c not in drop
    ]
    r_drop = set(rkeys) | {ts_col, tie_col}
    r_val = [
        c
        for c in wh.read(rschema, rtable, right_branch).columns
        if c not in r_drop
    ]

    def _select_vals(requested, available, side):
        """Column-pruned join MV (r18): keep only the requested value
        columns of one side — the shape for joining two WIDE sources
        while carrying a handful of columns, and the escape hatch for
        overlapping source column names (select disjoint subsets
        instead of renaming).  Requested names must be selectable
        value columns (key/ordering columns are mechanics, not
        values)."""
        if requested is None:
            return available
        bad = [c for c in requested if c not in available]
        if bad:
            raise ValueError(
                f"{side}_value_cols {bad} are not selectable value "
                f"columns of the {side} source (key/ordering columns "
                "are always mechanics; the rest must exist)"
            )
        if len(set(requested)) != len(requested):
            raise ValueError(
                f"{side}_value_cols {list(requested)} contains "
                "duplicates — a repeated name would produce duplicate "
                "MV columns"
            )
        return list(requested)

    l_val = _select_vals(left_value_cols, l_val, "left")
    r_val = _select_vals(right_value_cols, r_val, "right")
    overlap = set(l_val) & set(r_val)
    if overlap:
        raise ValueError(
            f"non-key columns {sorted(overlap)} exist on BOTH join "
            "sides — rename before maintaining (the MV schema is "
            "key + left value columns + right value columns, no "
            "silent prefixing; ordering columns are dropped)"
        )
    key_clash = set(r_val) & set(key_cols)
    if key_clash:
        raise ValueError(
            f"right-side value column(s) {sorted(key_clash)} collide "
            "with the MV's key names — rename them on the right source"
        )
    mode = _resolve_mv_mode(wh, mschema, mtable, mode)
    out = {"keys_refreshed": 0}
    # source types for schema-evolution propagation, captured at the
    # same moment as l_val/r_val (right physical names -> MV names);
    # the overlap refusal above makes the merge order irrelevant
    j_types = dict(_src_types(wh, lschema, ltable, left_branch))
    for rc, t in _src_types(wh, rschema, rtable, right_branch).items():
        j_types.setdefault(r_map.get(rc, rc), t)

    def joined_for(keys: DataFrame | None, lv=None, rv=None) -> DataFrame:
        """keep_latest(left) join keep_latest(right), optionally
        key-scoped (delta refresh) and version-pinned (bootstrap)."""
        l_df = (
            wh.read_snapshot(lschema, ltable, lv, branch=left_branch)
            if lv is not None
            else wh.read(lschema, ltable, left_branch)
        )
        r_df = _r(
            wh.read_snapshot(rschema, rtable, rv, branch=right_branch)
            if rv is not None
            else wh.read(rschema, rtable, right_branch)
        )
        if keys is not None:
            l_df = l_df.join(keys, key_cols, "leftsemi")
            r_df = r_df.join(keys, key_cols, "leftsemi")
        l_latest = keep_latest(l_df, key_cols, ts_col, tie_col).select(
            *key_cols, *l_val
        )
        r_latest = keep_latest(r_df, key_cols, ts_col, tie_col).select(
            *key_cols, *r_val
        )
        return l_latest.join(r_latest, key_cols, how)

    def refresh(keys: DataFrame) -> int:
        """Delta-scoped: recompute the join rows for ``keys`` from both
        sources' CURRENT state; keys with no join row tombstone."""
        kv = keys.limit(_MV_PRUNE_KEYS_MAX + 1).collect()
        n_keys = (
            len(kv) if len(kv) <= _MV_PRUNE_KEYS_MAX else keys.count()
        )
        if n_keys == 0:
            return 0
        if prune_source and n_keys <= _MV_PRUNE_KEYS_MAX:
            spec = {c: list({r[c] for r in kv}) for c in key_cols}
            # the right side's pruning spec uses ITS physical names
            r_spec = {
                rc: list({r[kc] for r in kv})
                for rc, kc in zip(rkeys, key_cols)
            }
            l_df = wh.read_pruned(
                lschema, ltable, spec, branch=left_branch
            ).join(keys, key_cols, "leftsemi")
            r_df = _r(
                wh.read_pruned(rschema, rtable, r_spec, branch=right_branch)
            ).join(keys, key_cols, "leftsemi")
            l_latest = keep_latest(
                l_df, key_cols, ts_col, tie_col
            ).select(*key_cols, *l_val)
            r_latest = keep_latest(
                r_df, key_cols, ts_col, tie_col
            ).select(*key_cols, *r_val)
            scoped = l_latest.join(r_latest, key_cols, how)
        else:
            scoped = joined_for(keys)
        try:
            # the delta-join subtree feeds both the batch and the gone
            # anti-join; Spark has no CSE, so evaluate it once (ADVICE
            # r15 — the merge_into double-scan class from review r12)
            scoped = scoped.localCheckpoint(eager=True)
        except Exception:
            pass
        _evolve_mv_schema(wh, mv, scoped.columns, j_types, evolve_schema)
        gone = keys.join(scoped.select(*key_cols), key_cols, "left_anti")
        batch = scoped.withColumn(_DEL, F.lit(False)).unionByName(
            gone.withColumn(_DEL, F.lit(True)), allowMissingColumns=True
        )
        wh.merge_upsert(
            mschema, mtable, batch, key_cols, delete_col=_DEL, mode=mode
        )
        return n_keys

    # ---- bootstrap: commit the full join BEFORE either checkpoint ----
    lck, rck = _ckpt_version(checkpoint_left), _ckpt_version(checkpoint_right)
    bootstrap = (
        lck is None or rck is None
        or not wh._snapshot_versions(mschema, mtable)
    )
    lv = wh._latest_version(lschema, ltable, left_branch)
    rv = wh._latest_version(rschema, rtable, right_branch)
    if (
        bootstrap
        and lv is not None
        and rv is not None
        and not (lck is not None and lck > lv)
        and not (rck is not None and rck > rv)
    ):
        state = joined_for(None, lv=lv, rv=rv)
        if not wh._snapshot_versions(mschema, mtable):
            wh.append(mschema, mtable, state, batch_id="mv_bootstrap")
        else:
            # reconcile: refresh every key, tombstone MV keys the join
            # no longer produces (idempotent — crash re-enters here)
            _evolve_mv_schema(
                wh, mv, state.columns, j_types, evolve_schema
            )
            gone = (
                wh.read(mschema, mtable)
                .select(*key_cols)
                .join(state.select(*key_cols), key_cols, "left_anti")
            )
            batch = state.withColumn(_DEL, F.lit(False)).unionByName(
                gone.withColumn(_DEL, F.lit(True)),
                allowMissingColumns=True,
            )
            wh.merge_upsert(
                mschema, mtable, batch, key_cols, delete_col=_DEL,
                mode=mode,
            )
        out["keys_refreshed"] = -1
        if lck is None:
            _init_checkpoint(checkpoint_left, lv, left_branch)
        if rck is None:
            _init_checkpoint(checkpoint_right, rv, right_branch)

    def process(ch: DataFrame) -> None:
        if list(ch.columns) == list(key_cols):
            keys = ch
        else:
            # row-exact pull: a RIGHT-side window carries the right's
            # physical key names (value-column/key clashes are refused
            # up front, so presence of every left name = a left frame)
            is_left = all(c in ch.columns for c in key_cols)
            keys = ch.select(*(key_cols if is_left else rkeys))
            if not is_left:
                keys = _r(keys)  # right physical names -> MV key names
            keys = keys.distinct()
            try:
                # refresh drives keys through a collect + two semi-joins
                # + the gone anti-join — evaluate the changelog once
                keys = keys.localCheckpoint(eager=True)
            except Exception:
                pass
        n = refresh(keys)
        if out["keys_refreshed"] != -1:
            out["keys_refreshed"] += n

    res_l = wh.consume_changes(
        lschema, ltable, checkpoint_left, process, net=True,
        branch=left_branch,
        changelog_fn=_keys_changelog(wh, key_cols) if keys_only else None,
        superset_changelog=keys_only,
    )
    res_r = wh.consume_changes(
        rschema, rtable, checkpoint_right, process, net=True,
        branch=right_branch,
        # right physical key names -> MV key names
        changelog_fn=_keys_changelog(wh, rkeys, _r) if keys_only else None,
        superset_changelog=keys_only,
    )
    fold = _maybe_auto_fold(wh, mschema, mtable, maintenance_policy)
    if fold:
        out["auto_fold"] = fold
    return {"left": res_l, "right": res_r, **out}


# --- self-maintainable AGGREGATE MVs (VERDICT r12 #3) ---------------------

_APPLIED = "mv_applied_to"

# mode="auto" keeps a SMALL aggregate MV copy-on-write: below this many
# rows, rewriting the MV per tick beats stacking MoR delete entries
# whose anti-joins every later tick's MV read pays (the r15 tick-floor
# decomposition).  Larger MVs keep merge-on-read's O(batch) commits.
# The threshold is the MEASURED CoW/MoR steady-state intersection
# (PERF.md r16 --agg-crossover, 20k-row CDC batches): CoW tick p50
# beats MoR at 50k/250k/1M MV rows (1.65/1.61/2.46 vs 2.44/2.56/2.85 s)
# and loses at 4M (4.64 vs 3.30) — linear crossover ~1.7M; set a notch
# below it.  BATCH-SIZE SENSITIVITY measured r17 (VERDICT r16 #5,
# 100k-row batches at 1M/4M): intersection ~1.8-2.0M — bigger batches
# inflate the CoW rewrite AND the MoR window/delete-stack costs nearly
# proportionally, so the crossover is batch-insensitive across
# 20k-100k and the constant stands unchanged.
_AGG_MV_COW_MAX_ROWS = 1_500_000


def _resolve_mv_mode(wh, mschema: str, mtable: str, mode: str) -> str:
    """'auto' -> 'copy-on-write' when the MV is METADATA-PROVABLY small
    (count_rows fast path; None = pending deletes make the size
    unknowable without a read -> stay merge-on-read, conservative),
    else 'merge-on-read'.  Mixing modes across ticks is legal: a CoW
    replace clears the pending delete set.  The decision is
    maintainer-agnostic — what it trades is a per-tick rewrite of the
    whole MV (cost ~ MV rows) vs stacking MoR delete entries whose
    anti-joins every later tick's MV read pays (the r15 tick-floor
    decomposition; threshold measured in PERF.md r16 --agg-crossover)
    — so every maintainer accepts mode="auto" through it."""
    if mode != "auto":
        return mode
    try:
        n = wh.count_rows(mschema, mtable, fallback=False)
    except Exception:
        n = None
    if n is not None and n <= _AGG_MV_COW_MAX_ROWS:
        return "copy-on-write"
    return "merge-on-read"


# historical name (r15) — the resolver moved to the generic spelling
# when every maintainer gained mode="auto"
_resolve_agg_mv_mode = _resolve_mv_mode


def _mv_applied_version(wh, mschema: str, mtable: str) -> int:
    """Latest applied-watermark committed WITH the MV's data: walk the
    retained parent chain from the head until a commit carries the
    marker (usually the head itself; an optimize() between ticks pushes
    it one back).  -1 = nothing ever applied.  An expiry that swallowed
    the whole marked history degrades to -1, which the gap check in
    ``maintain_agg_mv`` treats as un-provable coverage and heals with a
    full reconcile (never a silent skip or double-apply)."""
    v = wh._latest_version(mschema, mtable)
    while v is not None:
        try:
            h = wh._load_head_light(mschema, mtable, v)
        except (FileNotFoundError, KeyError):
            return -1
        if _APPLIED in h:
            return int(h[_APPLIED])
        v = h.get("parent")
    return -1


def maintain_agg_mv(
    wh,
    src: tuple[str, str],
    mv: tuple[str, str],
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    checkpoint_file: str = "",
    mode: str = "auto",
    src_branch: str = "main",
    maintenance_policy: dict | None = None,
) -> dict:
    """ONE maintenance tick of a SELF-MAINTAINABLE aggregate view —
    ``SELECT group_cols, COUNT(*) AS cnt, SUM(c) AS sum_c, COUNT(c) AS
    nn_c, SUM(c)/COUNT(c) AS avg_c ... GROUP BY group_cols`` — kept
    current purely from the source CHANGELOG: inserts add, deletes
    subtract, and NO source re-read happens per tick (the scan VERDICT
    r12 #3 orders removed; arg-max views like keep-latest stay on the
    delta-scoped refresh in ``maintain_keep_latest_mv`` because a
    delete of the current max needs the surviving rows, which count/sum
    algebra never does).  Per tick the work is O(window) + an MV-side
    join of the touched groups.

    EXACTLY-ONCE algebra under the at-least-once consumer (the part
    keep-latest never needed — its refresh is idempotent, aggregate
    DELTAS are not):

    - every MV write commits the window's max ``_commit_version`` as
      ``mv_applied_to`` IN THE SAME COMMIT (``extra_meta`` — the
      store-the-offset-with-the-data pattern), so a crash between the
      MV merge and the checkpoint write cannot double-apply: the
      redelivered window is filtered to ``_commit_version >
      mv_applied_to`` and only the unapplied suffix lands;
    - that filter is only sound when each change row carries its TRUE
      commit version, so this maintainer always pulls ``net=False``
      (net rows are tagged with their LAST contributing version — a
      net pair spanning the applied boundary would mis-filter);
      cancelling pairs cost nothing anyway: they zero out inside the
      window's one groupBy;
    - bootstrap/reconcile recomputes read ``read_snapshot(src, v)`` at
      a pinned version, COMMIT (stamping ``mv_applied_to = v``), and
      only then initialize the checkpoint at that same v — commit
      before checkpoint (ADVICE r13 medium), so the checkpoint can
      never run ahead of what the MV has applied;
    - defense in depth: every normal tick cross-checks the watermark
      against the checkpoint — if versions in (applied, ckpt] carried
      row changes (a hand-moved checkpoint, an expired watermark
      history), the tick heals with a full reconcile instead of
      silently skipping them.

    MV schema (created here on bootstrap via append): group_cols +
    ``cnt`` + per sum column ``sum_<c>``/``nn_<c>``/``avg_<c>`` (avg is
    derived as sum/nn in BOTH the incremental and recompute paths — one
    expression, no accumulation-order drift).  NULL group keys are
    unsupported (merge_upsert key-join semantics, same contract as CDC
    upserts); NULLs in sum columns follow SQL: they count toward
    ``cnt`` but not ``sum``/``nn``/``avg``.  Float sums inherit
    floating-point cancellation drift under heavy delete churn — use
    optimize()-triggered full refresh if exactness on doubles matters;
    int sums are exact.

    ``mode="auto"`` (default, r15): copy-on-write while the MV is
    metadata-provably small (``count_rows`` fast path, <=
    ``_AGG_MV_COW_MAX_ROWS``), merge-on-read otherwise — the measured
    guidance (PERF.md r15: small-MV CoW ticks sit at recompute parity
    where MoR pays a growing delete-stack read).  Explicit modes are
    honored unchanged."""
    if not checkpoint_file:
        raise ValueError(
            "checkpoint_file is required — the maintainer's whole "
            "contract is checkpointed changelog pulls"
        )
    _validate_policy(maintenance_policy)
    sum_cols = list(sum_cols or [])
    sschema, stable = src
    mschema, mtable = mv
    # mode="auto" (r15): CoW while the MV is metadata-provably small,
    # MoR otherwise — the measured guidance turned into the default
    # decision (PERF.md r15: small-MV CoW ticks sit at recompute parity
    # where MoR paid a growing delete-stack read)
    mode = _resolve_mv_mode(wh, mschema, mtable, mode)
    out = {"groups_refreshed": 0}

    def agg_exprs(sign):
        """The ONE set of aggregate expressions both the incremental
        delta and the full recompute are built from."""
        exprs = [F.sum(sign).cast("bigint").alias("cnt")]
        for c in sum_cols:
            exprs.append(
                F.sum(sign * F.coalesce(F.col(c), F.lit(0))).alias(f"sum_{c}")
            )
            exprs.append(
                F.sum(
                    F.when(F.col(c).isNotNull(), sign).otherwise(F.lit(0))
                ).cast("bigint").alias(f"nn_{c}")
            )
        return exprs

    def with_avgs(df):
        for c in sum_cols:
            # NULL when the group has no non-null values — guarded
            # explicitly because the driver's vanilla session runs ANSI
            # (plain x/0 raises DIVIDE_BY_ZERO there)
            df = df.withColumn(
                f"avg_{c}",
                F.when(
                    F.col(f"nn_{c}") > 0,
                    F.col(f"sum_{c}") / F.col(f"nn_{c}"),
                ).cast("double"),
            )
        return df

    def recompute_at(v: int) -> None:
        """Full recompute of the MV from ``read_snapshot(src, v)``,
        committed with ``mv_applied_to = v`` — the bootstrap AND the
        lost-checkpoint / gap reconcile (idempotent: re-running after a
        crash converges to the same state)."""
        state = with_avgs(
            wh.read_snapshot(sschema, stable, v, branch=src_branch)
            .groupBy(*group_cols)
            .agg(*agg_exprs(F.lit(1)))
        )
        if not wh._snapshot_versions(mschema, mtable):
            wh.append(
                mschema, mtable, state, batch_id="mv_bootstrap",
                extra_meta={_APPLIED: v},
            )
        else:
            # reconcile every group and tombstone MV groups the
            # recompute no longer has
            gone = (
                wh.read(mschema, mtable)
                .select(*group_cols)
                .join(state.select(*group_cols), group_cols, "left_anti")
            )
            batch = state.withColumn(_DEL, F.lit(False)).unionByName(
                gone.withColumn(_DEL, F.lit(True)),
                allowMissingColumns=True,
            )
            wh.merge_upsert(
                mschema, mtable, batch, group_cols, delete_col=_DEL,
                mode=mode, extra_meta={_APPLIED: v},
            )
        out["groups_refreshed"] = -1  # full refresh marker

    ckpt_v = _ckpt_version(checkpoint_file)
    bootstrap = ckpt_v is None or not wh._snapshot_versions(mschema, mtable)
    head_v = wh._latest_version(sschema, stable, src_branch)
    if head_v is not None and not (ckpt_v is not None and ckpt_v > head_v):
        # (ckpt_v > head_v = recreated/stale source — fall through so
        # consume_changes raises its standard error, MV untouched)
        if bootstrap:
            recompute_at(head_v)
            if ckpt_v is None:
                _init_checkpoint(checkpoint_file, head_v, src_branch)
        else:
            # GAP CHECK (ADVICE r13 medium, defense in depth): versions
            # in (applied, ckpt] were checkpointed past but are above
            # the MV's watermark.  Normally that tail is metadata-only
            # (the watermark is the window's max ROW-change version;
            # trailing compaction/DDL commits sit above it) — O(tail)
            # head-JSON reads, zero Spark jobs.  If the tail has
            # non-skip ops, prove harmlessness from the changelog
            # itself; row changes there mean the MV skipped versions it
            # can never pull again — heal with a full reconcile.
            applied = _mv_applied_version(wh, mschema, mtable)
            if applied < ckpt_v and not wh._window_metadata_only(
                sschema, stable, applied, ckpt_v, src_branch
            ):
                try:
                    missed = not wh.read_changes(
                        sschema, stable, applied, ckpt_v, net=False,
                        branch=src_branch,
                    ).isEmpty()
                except Exception:
                    # un-provable gap (expired versions, a rollback, or
                    # applied = -1 from an expired watermark history):
                    # reconcile rather than risk a silent skip
                    missed = True
                if missed:
                    recompute_at(head_v)

    def incremental(ch) -> None:
        applied = _mv_applied_version(wh, mschema, mtable)
        ch = ch.filter(F.col("_commit_version") > F.lit(applied))
        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        delta = ch.groupBy(*group_cols).agg(
            *agg_exprs(sign),
            F.max("_commit_version").alias("_win_v"),
        )
        try:
            delta = delta.localCheckpoint(eager=True)
        except Exception:
            pass  # re-drive protection is an optimization
        head = delta.agg(
            F.count("*").alias("n"), F.max("_win_v").alias("v")
        ).collect()[0]
        if out["groups_refreshed"] != -1:
            out["groups_refreshed"] = int(head["n"])
        if head["n"] == 0:
            return
        win_v = int(head["v"])
        delta = delta.drop("_win_v")
        cur = wh.read(mschema, mtable)
        # no broadcast hint on either side: a redelivered backfill
        # window can touch millions of groups (the keep-latest lesson)
        d, t = delta.alias("d"), cur.alias("t")
        on = [d[c].eqNullSafe(t[c]) for c in group_cols]
        from functools import reduce as _reduce

        joined = d.join(t, _reduce(lambda a, b: a & b, on), "left")
        new_cols = [F.col(f"d.{c}").alias(c) for c in group_cols]
        cnt = (
            F.coalesce(F.col("t.cnt"), F.lit(0))
            + F.col("d.cnt")
        ).cast("bigint")
        new_cols.append(cnt.alias("cnt"))
        for c in sum_cols:
            new_cols.append(
                (
                    F.coalesce(F.col(f"t.sum_{c}"), F.lit(0))
                    + F.col(f"d.sum_{c}")
                ).alias(f"sum_{c}")
            )
            new_cols.append(
                (
                    F.coalesce(F.col(f"t.nn_{c}"), F.lit(0))
                    + F.col(f"d.nn_{c}")
                ).cast("bigint").alias(f"nn_{c}")
            )
        merged = with_avgs(joined.select(*new_cols))
        batch = merged.withColumn(_DEL, F.col("cnt") == 0)
        wh.merge_upsert(
            mschema, mtable, batch, group_cols, delete_col=_DEL,
            mode=mode, extra_meta={_APPLIED: win_v},
        )

    # Always-incremental pull: after a bootstrap/reconcile the window is
    # (head_v, current head] — normally empty; a commit that raced in
    # applies here (its rows are above the freshly stamped watermark),
    # and anything at or below head_v filters out.
    res = wh.consume_changes(
        sschema, stable, checkpoint_file, incremental, net=False,
        branch=src_branch,
    )
    fold = _maybe_auto_fold(wh, mschema, mtable, maintenance_policy)
    if fold:
        out["auto_fold"] = fold
    return {**res, **out}
