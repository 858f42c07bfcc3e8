"""Batched changelog -> MERGE INTO application (VERDICT r12 #4 / r13 #3).

``merge_into``'s conditional clauses pay a fixed per-call DISCOVERY tax —
the key-join pass over the target that resolves s.-vs-t. conditions —
measured at ~5.3x a plain read for 20k-row ticks (PERF.md, three
host-days).  For a steady CDC stream that tax is per TICK, not per row:
applying every source commit individually pays it N times for the same
target scan work.  This module is the designed mitigation: ACCUMULATE
source changelog windows and fire ONE merge_into per accumulated batch.

    poll -> lag below thresholds?  return (ZERO Spark jobs — the lag
            estimate reads only head JSONs)
         -> thresholds hit?  one consume_changes pull of the whole
            accumulated window, NET-reduced to final-state rows +
            tombstones, one merge_into

Exactly-once-effect under the at-least-once consumer comes from the
MERGE conditions themselves, not a watermark: the net reduction emits
each key's FINAL state in the window, the freshness condition
(strictly-newer ts, tie-broken) makes a redelivered row a no-op, and a
redelivered tombstone finds no matching target row.  Aggregate MVs need
the committed watermark (deltas are not idempotent — see
``incremental_mv.maintain_agg_mv``); keyed state application does not.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.operators.dedup import keep_latest
from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
    _ckpt_state,
    _evolve_mv_schema,
    _keys_changelog,
    _maybe_auto_fold,
    _src_types,
    _validate_policy,
)

_DEL = "__mib_del"
_META = ("_change_type", "_commit_version", "_change_ordinal")


def pending_rows_estimate(
    wh, schema: str, table: str, fv: int, tv: int, branch: str = "main"
) -> int:
    """Estimate of the change rows in (fv, tv] from head JSONs ALONE
    (zero Spark jobs — the idle-poll cost contract).  Changelog-skip ops
    (compaction, DDL) contribute 0; data commits contribute their
    snapshot-summary ``added_rows`` (r14 heads; exact for appends and
    MoR image commits, and the right order of magnitude for CoW
    rewrites, whose changelog genuinely emits O(rewritten rows)); older
    heads without the summary fall back to the positive ``total_rows``
    delta (exact for appends, 0 for CoW updates — under-estimating only
    delays the rows-triggered fire, never corrupts: max_lag_commits
    still bounds staleness).  ``branch`` resolves the version numbers
    against that ref's head chain (ADVICE r16: a branch checkpoint's
    versions are meaningless against main's commits)."""
    est = 0
    prev: int | None = None
    for v in range(fv, tv + 1):
        try:
            h = wh._load_head_light(schema, table, v, branch)
        except KeyError:
            prev = None
            continue
        t = h["total_rows"]
        if v > fv and h.get("operation") not in wh._CHANGELOG_SKIP_OPS:
            if "added_rows" in h:
                est += h["added_rows"]
            elif prev is not None and t > prev:
                est += t - prev
        prev = t
    return est


def merge_into_batched(
    wh,
    src: tuple[str, str],
    tgt: tuple[str, str],
    key_cols: list[str],
    checkpoint_file: str,
    *,
    ts_col: str = "ts",
    tie_col: str = "event_id",
    min_batch_rows: int = 0,
    max_lag_commits: int = 1,
    matched_condition: str | None = None,
    mode: str = "merge-on-read",
    keys_only: bool = True,
    src_branch: str = "main",
    tgt_branch: str = "main",
    evolve_schema: bool = True,
    maintenance_policy: dict | None = None,
) -> dict:
    """ONE poll of the batched CDC apply loop: mirror ``src``'s keyed
    state into ``tgt`` via accumulated ``merge_into`` calls.

    Accumulation knobs — fire when EITHER holds, else do nothing:

    - ``max_lag_commits``: fire once the checkpoint lags the source head
      by this many commits (default 1 = fire every poll, the unbatched
      shape).  Bounds staleness.
    - ``min_batch_rows``: fire early once the estimated pending change
      rows (head-JSON totals deltas, zero Spark jobs) reach this.
      Bounds batch size under bursts.

    A non-firing poll costs O(lag) tiny JSON reads and NO Spark jobs.
    A firing poll pulls the whole accumulated window once, reduces it to
    one row per touched key — final state via ``keep_latest`` over the
    window's net inserts, plus key-only tombstones for keys whose net is
    a bare delete — and issues ONE ``merge_into`` with a strict
    freshness guard (default ``s.ts > t.ts OR (s.ts = t.ts AND s.tie >
    t.tie)``; override via ``matched_condition``), tombstone delete, and
    insert-only-non-tombstones clauses.  The discovery tax is paid once
    per fire instead of once per source commit.  The default guard
    assumes per-key MONOTONE (ts, tie) — the CDC norm; a source whose
    updates can regress ts needs ``matched_condition`` overridden (at
    the cost of redelivered windows rewriting rows instead of no-oping).

    ``keys_only`` (default, r14) pulls the KEYS-ONLY changelog
    (``warehouse.touched_keys`` — conservative superset, column-pruned,
    no per-delete-commit row diffs) and re-derives each touched key's
    FINAL state from the source table itself (keep_latest over a
    key-pruned read; keys absent from the source become tombstones) —
    the same delta-scoped-refresh shape as the keep-latest MV, applied
    through conditional MERGE.  Refreshing an over-approximated key is
    a no-op under the freshness guard, so the superset is free
    (``keys_only=False`` pulls the row-exact net changelog, kept for
    A/B).

    Bootstrap (no checkpoint): initializes at the current head and
    applies nothing — the standard consume-from-now contract; seed the
    target to the source's head state first (or start both empty).
    Rollback/expired versions inside the window raise through
    ``consume_changes``; recover with its documented ``start_version``
    skip-forward.  ``src_branch``/``tgt_branch`` (r17) run the apply
    loop against branch refs — the staging workflow: every source read
    (head poll, row estimate, changelog pull, the keys-only re-derive's
    pruned and full reads) resolves against ``src_branch``, the MERGE
    commits to ``tgt_branch``, and the checkpoint records its ref so a
    cross-ref pull refuses (``consume_changes``' standard guard).
    ``evolve_schema`` (r17) propagates source ``add_column`` evolution
    into the mirror before each fire — ``merge_into`` drops extra
    source columns by design, so without it a new column would
    silently never land; False refuses loudly.  ``maintenance_policy``
    (r18) bounds the mirror's pending merge-on-read delete stack: past
    {"max_pending_delete_entries"/"max_pending_delete_rows"} the poll
    ends with a fold of the target (the census is zero-job head
    metadata, so under-threshold polls stay jobless); the result gains
    "auto_fold" when it fired.  The mirror's size is UNBOUNDED, so the
    default fold is DELETE-SCOPED (r19, ``fold_pending_deletes`` —
    O(touched files), not O(mirror); ``fold_scope: "full"`` opts back
    into compacting optimize()).

    Returns ``{"fired": bool, "lag_commits", "pending_rows_est"}`` plus,
    when fired, consume_changes' window and ``{"batch_rows",
    "tombstones", "merge": <merge_into result>}``."""
    sschema, stable = src
    tschema, ttable = tgt
    if max_lag_commits < 1:
        raise ValueError("max_lag_commits must be >= 1")
    _validate_policy(maintenance_policy)
    head_v = wh._latest_version(sschema, stable, src_branch)
    # ONE checkpoint read serves both the version and the branch guard
    # (ADVICE r17: two non-atomic reads could pair fields from
    # different writes, and a file replaced between them raised instead
    # of taking the bootstrap path)
    _ck = _ckpt_state(checkpoint_file)
    ckpt_v = None if _ck is None else _ck.get("version")
    if ckpt_v is not None:
        # refuse a cross-ref pull BEFORE any lag math — the poll's own
        # lag/estimate comparisons are meaningless across refs, and the
        # lag<0 path would mislabel the mismatch as a stale ref
        # (consume_changes applies the same guard at pull time)
        _ck_branch = _ck.get("branch", "main")
        if _ck_branch != src_branch:
            raise ValueError(
                f"checkpoint {checkpoint_file!r} tracks ref "
                f"{_ck_branch!r}, not {src_branch!r} — version counters "
                "are not comparable across refs; use one checkpoint "
                "file per ref"
            )
    if ckpt_v is None or head_v is None:
        # consume_changes owns bootstrap (and the no-snapshot error)
        res = wh.consume_changes(
            sschema, stable, checkpoint_file, lambda ch: None, net=True,
            branch=src_branch,
        )
        return {
            "fired": False, "bootstrapped": True,
            "lag_commits": 0, "pending_rows_est": 0, **res,
        }
    lag = head_v - ckpt_v
    if lag < 0:
        # ADVICE r14: a head BELOW the checkpoint (stale ref, recreated
        # table) must raise like consume_changes does — silently
        # returning a zero-lag non-firing poll would report "in sync"
        # forever while the mirror diverges
        raise ValueError(
            f"{sschema}.{stable} head v{head_v} is BELOW the "
            f"checkpointed v{ckpt_v} — stale ref or a recreated table; "
            "delete the checkpoint deliberately if re-baselining is "
            "intended"
        )
    est = (
        pending_rows_estimate(
            wh, sschema, stable, ckpt_v, head_v, src_branch
        )
        if lag > 0
        else 0
    )
    out = {
        "fired": False,
        "lag_commits": max(lag, 0),
        "pending_rows_est": est,
    }
    if lag <= 0 or (
        lag < max_lag_commits and (min_batch_rows <= 0 or est < min_batch_rows)
    ):
        # the delete-stack census is head-JSON-only, so a non-firing
        # poll stays zero-job unless a PAST fire left the target over
        # threshold — then folding now is exactly the policy's job
        fold = _maybe_auto_fold(
            wh, tschema, ttable, maintenance_policy, branch=tgt_branch,
            default_scope="pending",
        )
        if fold:
            out["auto_fold"] = fold
        return out

    freshness = matched_condition or (
        f"s.{ts_col} > t.{ts_col} OR "
        f"(s.{ts_col} = t.{ts_col} AND s.{tie_col} > t.{tie_col})"
    )

    def reduce_to_batch(ch):
        """The window, reduced to ONE row per touched key: final state
        rows + key-only tombstone rows flagged ``__mib_del``."""
        if "_change_type" not in ch.columns:
            # keys-only shape (touched_keys): re-derive each key's final
            # state from the SOURCE itself — key-pruned read (bounds +
            # blooms) for small key sets, the delta-scoped-refresh shape.
            # The frame arrives checkpointed (keys_changelog); ONE
            # bounded collect answers emptiness + the pruning key set
            # (count()+collect() was two fixed jobs per fire — r15)
            cur = None
            kv = ch.limit(1025).collect()
            if 0 < len(kv) <= 1024:
                try:
                    spec = {c: list({r[c] for r in kv}) for c in key_cols}
                    cur = wh.read_pruned(
                        sschema, stable, spec, branch=src_branch
                    )
                except Exception:
                    cur = None
            if cur is None:
                cur = wh.read(sschema, stable, src_branch)
            latest = keep_latest(
                cur.join(ch, key_cols, "leftsemi"),
                key_cols, ts_col, tie_col,
            )
            gone = ch.join(latest.select(*key_cols), key_cols, "left_anti")
        else:
            data_cols = [c for c in ch.columns if c not in _META]
            ch = ch.select(*data_cols, "_change_type")
            try:
                # the window read feeds two branches + the MERGE's own
                # multi-pass machinery: evaluate it once
                ch = ch.localCheckpoint(eager=True)
            except Exception:
                pass
            # net inserts = rows LIVE at window end for touched keys; a
            # key replayed at-least-once can surface duplicates,
            # keep_latest reduces to THE final row deterministically
            latest = keep_latest(
                ch.filter(F.col("_change_type") == "insert").drop(
                    "_change_type"
                ),
                key_cols, ts_col, tie_col,
            )
            # keys whose net is a bare delete (no surviving row)
            gone = (
                ch.filter(F.col("_change_type") == "delete")
                .select(*key_cols)
                .distinct()
                .join(latest.select(*key_cols), key_cols, "left_anti")
            )
        # tombstones are key-only rows — merge_into NULL-fills the rest
        # and the delete clause fires before any insert/update could see
        # the NULLs
        return latest.withColumn(_DEL, F.lit(False)).unionByName(
            gone.withColumn(_DEL, F.lit(True)), allowMissingColumns=True
        )

    def process(ch) -> None:
        batch = reduce_to_batch(ch)
        # propagate source add_column evolution into the MIRROR before
        # the merge (r17: merge_into DROPS extra source columns by
        # design, so without this the new column silently never lands)
        _evolve_mv_schema(
            wh, (tschema, ttable),
            [c for c in batch.columns if c != _DEL],
            _src_types(wh, sschema, stable, src_branch),
            evolve_schema, mv_branch=tgt_branch,
        )
        res = wh.merge_into(
            tschema, ttable, batch, key_cols,
            matched_condition=freshness,
            matched_delete=f"s.{_DEL}",
            not_matched_condition=f"NOT s.{_DEL}",
            mode=mode, branch=tgt_branch,
        )
        out["fired"] = True
        out["merge"] = res
        out["batch_rows"] = (
            res.get("upserts", 0) + res.get("matched_deleted", 0)
        )
        out["tombstones"] = res.get("matched_deleted", 0)

    res = wh.consume_changes(
        sschema, stable, checkpoint_file, process, net=True,
        branch=src_branch,
        changelog_fn=_keys_changelog(wh, key_cols) if keys_only else None,
        superset_changelog=keys_only,
    )
    if not out["fired"]:
        # the accumulated window netted to zero row changes (or was
        # metadata-only); the checkpoint still advanced past it
        out["fired"] = True
        out["batch_rows"] = 0
        out["tombstones"] = 0
    # bound the MIRROR's pending MoR delete stack (r18, VERDICT r17 #1):
    # each fired MERGE under mode='merge-on-read' stacks delete entries
    # whose anti-joins every later read pays — past the policy threshold
    # the poll ends with an optimize() fold of the target
    fold = _maybe_auto_fold(
        wh, tschema, ttable, maintenance_policy, branch=tgt_branch,
        default_scope="pending",
    )
    if fold:
        out["auto_fold"] = fold
    return {**out, **res}
