"""CLI entry points — the reference's ``yarn bench`` / ``yarn plot``
(src/commands/bench.ts, src/commands/plot.ts) re-expressed:

    python -m hands_on_iceberg_compression_spark bench \
        --rows 100000 --schema narrow --codecs full --warehouse ./warehouse
    python -m hands_on_iceberg_compression_spark plot \
        --csv results_sizes.csv --assets assets/
"""

from __future__ import annotations

import argparse
import sys


def _cmd_bench(args: argparse.Namespace) -> int:
    from hands_on_iceberg_compression_spark.pipeline.codec_bench import (
        ACTIVE_CODEC_LEVELS,
        FULL_CODEC_LEVELS,
        run_codec_bench,
    )
    from hands_on_iceberg_compression_spark.pipeline.load import LoadPlan
    from hands_on_iceberg_compression_spark.schema.reference_schemas import (
        narrow_example_config,
        wide_events_config,
    )
    from hands_on_iceberg_compression_spark.session import make_session
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    config = wide_events_config() if args.schema == "wide" else narrow_example_config()
    if not args.partitioned:
        # codec comparison defaults to unpartitioned tables (matches the
        # reference's measured setup — its partitioning config was dead);
        # --partitioned honors the schema's declared transforms instead
        config.partitioning = []
    codec_levels = FULL_CODEC_LEVELS if args.codecs == "full" else ACTIVE_CODEC_LEVELS
    spark = make_session(app_name="codec-bench")
    warehouse = ParquetWarehouse(spark, args.warehouse)
    plan = LoadPlan(
        total_rows=args.rows,
        batch_rows=args.batch_rows,
        concurrency=args.concurrency,
        checkpoint_dir=args.checkpoints,
        compact_after_load=not args.no_compact,
        seed=args.seed,
    )
    run_codec_bench(spark, warehouse, config, plan, codec_levels, csv_path=args.csv)
    print(f"wrote {args.csv}")
    spark.stop()
    return 0


def _cmd_plot(args: argparse.Namespace) -> int:
    from hands_on_iceberg_compression_spark.pipeline.plot_svg import plot_results

    for p in plot_results(args.csv, args.assets):
        print(f"wrote {p}")
    return 0


def _cmd_log_report(args: argparse.Namespace) -> int:
    """Metadata-layer metrology for a snapshot-log table (VERDICT r5 #7) —
    manifest cost (head vs segment bytes) and optional prune
    effectiveness, rendered in the same console-table posture as the
    codec bench's size report."""
    from hands_on_iceberg_compression_spark.pipeline.metrology import (
        log_console_table,
        measure_log_table,
    )
    from hands_on_iceberg_compression_spark.session import make_session
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    ranges = None
    if args.prune:
        col, lo, hi = args.prune.split(":", 2)

        def conv(x: str):
            if x == "":
                return None
            try:
                return int(x)
            except ValueError:
                return x

        ranges = {col: (conv(lo), conv(hi))}
    from pyspark.sql import SparkSession

    # make_session is getOrCreate: only stop a session THIS command
    # created — stopping a pre-existing one (in-process callers, tests)
    # would kill the caller's SparkContext
    owns_session = SparkSession.getActiveSession() is None
    spark = make_session(app_name="log-report")
    wh = ParquetWarehouse(spark, args.warehouse)
    row = measure_log_table(wh, args.schema_name, args.table, prune_ranges=ranges)
    print(log_console_table([row]))
    if owns_session:
        spark.stop()
    return 0


def _cmd_ndv_report(args: argparse.Namespace) -> int:
    """Manifest-only NDV report (r14): the table-level distinct-count
    estimate for a bloom column — per-file fill-derived estimates give
    [max, sum] bounds, equal-geometry filters union exactly.  Pure
    metadata: no data file is opened, no SparkSession is started."""
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(None, args.warehouse)
    try:
        out = wh.distinct_estimate(args.schema_name, args.table, args.column)
    except ValueError as e:
        print(e)
        return 1
    est = out["est"] if out["est"] is not None else "-"
    print(
        f"{args.schema_name}.{args.table}.{args.column}: "
        f"covered {out['files_covered']}/{out['files_total']} files  "
        f"ndv est={est}  bounds=[{out['lower']}, {out['upper']}]"
    )
    if out["files_covered"] < out["files_total"]:
        print(
            "note: uncovered files have no bloom filter for this column "
            "(written before bloom_columns was set) — optimize() "
            "rewrites them with filters"
        )
    return 0


def _cmd_optimize(args: argparse.Namespace) -> int:
    """Compaction from the command line — the third leg of cron-able
    maintenance (mv-tick maintains, expire retires, optimize compacts;
    an MV's MoR tick series GROWS between folds — PERF.md r17 — so the
    cron cadence of THIS command is what keeps tick cost flat).
    ``--partition-filter col=v1,v2`` scopes the rewrite to hot
    partitions; ``--zorder`` sorts the rewrite by a Morton interleave."""
    import json as _json

    from pyspark.sql import SparkSession

    from hands_on_iceberg_compression_spark.session import make_session
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    pf = None
    if args.partition_filter:
        col, _, vals = args.partition_filter.partition("=")
        if not vals:
            print("--partition-filter must look like col=v1,v2")
            return 1
        pf = {col: vals.split(",")}
    owns_session = SparkSession.getActiveSession() is None
    spark = make_session(app_name="optimize")
    try:
        wh = ParquetWarehouse(spark, args.warehouse)
        n = wh.optimize(
            args.schema_name, args.table,
            target_file_size_bytes=args.target_file_size,
            partition_filter=pf,
            branch=args.branch,
            zorder=args.zorder.split(",") if args.zorder else None,
        )
        print(_json.dumps({"files": n}))
        return 0
    finally:
        if owns_session:
            spark.stop()


def _cmd_expire(args: argparse.Namespace) -> int:
    """Snapshot retention from the command line — expire_snapshots
    with the r17 checkpoint guard, so cron can bound history right
    next to mv-tick/mv-report without ever stranding a lagging
    consumer.  Pure metadata + file GC; no SparkSession."""
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(None, args.warehouse)
    retain = [p for p in (args.retain_checkpoints or "").split(",") if p]
    # the plan prints BEFORE anything is removed (VERDICT r17 #2): the
    # resolved floor + checkpoint count make a silently-no-op retention
    # registration visible, and --dry-run stops here
    plan = wh.expire_plan(
        args.schema_name, args.table, keep_last=args.keep_last,
        older_than_s=args.older_than,
        retain_checkpoints=retain or None,
        strict_checkpoints=args.strict_checkpoints,
    )
    floor = plan["ckpt_floor"]
    print(
        f"checkpoint floor: {'v%d' % floor if floor is not None else '-'} "
        f"({plan['checkpoints']} checkpoint(s) registered)"
    )
    if retain and plan["checkpoints"] == 0:
        print(
            "WARNING: --retain-checkpoints registered ZERO checkpoints — "
            "retention is NOT protecting any consumer"
        )
    if args.dry_run:
        print(
            f"dry-run: would expire {len(plan['victims'])} snapshot(s): "
            f"{plan['victims']}"
        )
        return 0
    removed = wh.expire_snapshots(
        args.schema_name, args.table, keep_last=args.keep_last,
        older_than_s=args.older_than,
        retain_checkpoints=retain or None,
        strict_checkpoints=args.strict_checkpoints,
    )
    print(f"expired {removed} snapshot(s)")
    return 0


def _cmd_mv_tick(args: argparse.Namespace) -> int:
    """Run ONE incremental-MV maintenance tick from the command line —
    the ACTING twin of mv-report (cron the two together and a pipeline
    stays fresh and observable with no bespoke driver code; chains are
    just several mv-tick invocations in topological order).  Kinds map
    1:1 onto the maintainers; the maintainer's result dict prints as
    one JSON line."""
    import json as _json

    from pyspark.sql import SparkSession

    from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
        maintain_agg_mv,
        maintain_join_mv,
        maintain_keep_latest_mv,
        maintain_topn_mv,
    )
    from hands_on_iceberg_compression_spark.session import make_session
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    keys = [c for c in args.keys.split(",") if c]
    policy = {}
    if args.max_pending_delete_entries > 0:
        policy["max_pending_delete_entries"] = args.max_pending_delete_entries
    if args.max_pending_delete_rows > 0:
        policy["max_pending_delete_rows"] = args.max_pending_delete_rows
    policy = policy or None
    # make_session is getOrCreate: only stop a session THIS command
    # created (the log-report lesson — stopping a pre-existing one
    # kills the caller's SparkContext)
    owns_session = SparkSession.getActiveSession() is None
    spark = make_session(app_name="mv-tick")
    try:
        wh = ParquetWarehouse(spark, args.warehouse)
        src = tuple(args.src.split(".", 1))
        mv = tuple(args.mv.split(".", 1))
        vcols = [c for c in args.value_cols.split(",") if c] or None
        if args.kind == "keep-latest":
            res = maintain_keep_latest_mv(
                wh, src, mv, keys, ts_col=args.ts_col,
                tie_col=args.tie_col, checkpoint_file=args.checkpoint,
                mode=args.mode, src_branch=args.src_branch,
                maintenance_policy=policy, value_cols=vcols,
            )
        elif args.kind == "topn":
            if not args.order_col:
                print("--order-col is required for kind=topn")
                return 1
            res = maintain_topn_mv(
                wh, src, mv, keys, args.n, order_col=args.order_col,
                tie_col=args.tie_col, checkpoint_file=args.checkpoint,
                mode=args.mode, src_branch=args.src_branch,
                descending=not args.ascending,
                maintenance_policy=policy, value_cols=vcols,
            )
        elif args.kind == "agg":
            res = maintain_agg_mv(
                wh, src, mv, keys,
                sum_cols=[c for c in args.sum_cols.split(",") if c],
                checkpoint_file=args.checkpoint, mode=args.mode,
                src_branch=args.src_branch,
                maintenance_policy=policy,
            )
        elif args.kind == "cdc-apply":
            from hands_on_iceberg_compression_spark.pipeline.cdc_apply import (
                merge_into_batched,
            )

            # cdc-apply coerces the default auto to merge-on-read (the
            # mirror is arbitrarily large — size-based auto resolution
            # belongs to the MV maintainers); the resolved mode is
            # echoed in the result line so the coercion is visible
            # (ADVICE r17)
            resolved_mode = (
                "merge-on-read" if args.mode == "auto" else args.mode
            )
            res = merge_into_batched(
                wh, src, mv, keys, args.checkpoint,
                ts_col=args.ts_col, tie_col=args.tie_col,
                min_batch_rows=args.min_batch_rows,
                max_lag_commits=args.max_lag_commits,
                mode=resolved_mode,
                src_branch=args.src_branch,
                tgt_branch=args.tgt_branch,
                maintenance_policy=policy,
            )
            res["mode"] = resolved_mode
        else:  # join
            if not (args.right and args.checkpoint_right):
                print(
                    "--right and --checkpoint-right are required for "
                    "kind=join"
                )
                return 1
            rkeys = [c for c in args.right_keys.split(",") if c]
            res = maintain_join_mv(
                wh, src, tuple(args.right.split(".", 1)), mv, keys,
                ts_col=args.ts_col, tie_col=args.tie_col,
                checkpoint_left=args.checkpoint,
                checkpoint_right=args.checkpoint_right,
                mode=args.mode, how=args.how,
                right_key_cols=rkeys or None,
                left_branch=args.src_branch,
                right_branch=args.right_branch,
                maintenance_policy=policy,
            )
        print(_json.dumps(res))
        return 0
    except ValueError as e:
        # surface refusals (schema-evolution divergence, cross-ref
        # checkpoints, policy typos ...) WITH the tick's identities —
        # the raw error from deep inside a tick names the column but
        # not which maintainer/source/MV it came from (VERDICT r17 #6)
        print(
            f"mv-tick kind={args.kind} refused "
            f"(src={args.src}, mv={args.mv}): {e}",
            file=sys.stderr,
        )
        return 1
    finally:
        if owns_session:
            spark.stop()


def _cmd_audit(args: argparse.Namespace) -> int:
    """Write-audit-publish gate from the command line (r18): run
    declarative quality checks against a table state (a staging branch,
    typically) and optionally publish to main only when green — the
    Iceberg WAP workflow as one cron-able command."""
    import json as _json

    from pyspark.errors import AnalysisException
    from pyspark.sql import SparkSession

    from hands_on_iceberg_compression_spark.pipeline.audit import (
        AuditFailed,
        audit_table,
        publish_if_green,
    )
    from hands_on_iceberg_compression_spark.session import make_session
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        BranchMovedError,
        ParquetWarehouse,
    )

    try:
        with open(args.checks) as f:
            checks = _json.load(f)
    except (OSError, ValueError) as e:
        print(f"audit refused: cannot read --checks: {e}", file=sys.stderr)
        return 1
    owns_session = SparkSession.getActiveSession() is None
    spark = make_session(app_name="audit")
    try:
        wh = ParquetWarehouse(spark, args.warehouse)
        if args.publish:
            try:
                res = publish_if_green(
                    wh, args.schema_name, args.table, args.branch, checks
                )
            except AuditFailed as e:
                print(_json.dumps(e.audit))
                print(f"audit FAILED: {e}", file=sys.stderr)
                return 1
            except BranchMovedError as e:
                # the audit→publish race fence fired: main untouched,
                # the new branch head needs its own audit
                print(f"publish refused: {e}", file=sys.stderr)
                return 1
            print(_json.dumps(res))
        else:
            res = audit_table(
                wh, args.schema_name, args.table, checks,
                branch=args.branch,
            )
            print(_json.dumps(res))
            if not res["passed"]:
                return 1
        return 0
    except (ValueError, AnalysisException) as e:
        # AnalysisException: a typo'd column INSIDE an expression
        # check's SQL surfaces at agg time, past the 'cols' pre-check —
        # same one-line refusal as every other malformed check
        # (ADVICE r18)
        print(f"audit refused: {e}", file=sys.stderr)
        return 1
    finally:
        if owns_session:
            spark.stop()


def _cmd_mv_drain(args: argparse.Namespace) -> int:
    """ONE pass over a declarative MV pipeline (r18): a JSON file lists
    stages in topological order; each stage is one maintainer tick
    (pipeline/dag.py).  Cron this next to mv-report and a whole
    chain/diamond/CDC-mirror pipeline stays fresh with no bespoke
    driver code.  The pipeline validates BEFORE any stage runs; each
    stage's result prints as one JSON line."""
    import json as _json

    from pyspark.errors import AnalysisException
    from pyspark.sql import SparkSession

    from hands_on_iceberg_compression_spark.pipeline.dag import (
        drain_pipeline,
        validate_pipeline,
    )
    from hands_on_iceberg_compression_spark.session import make_session
    from hands_on_iceberg_compression_spark.sources.warehouse import (
        BranchMovedError,
        ParquetWarehouse,
    )

    try:
        with open(args.pipeline) as f:
            stages = _json.load(f)
        validate_pipeline(stages)
    except (OSError, ValueError) as e:
        print(f"mv-drain refused: {e}", file=sys.stderr)
        return 1
    owns_session = SparkSession.getActiveSession() is None
    spark = make_session(app_name="mv-drain")
    try:
        wh = ParquetWarehouse(spark, args.warehouse)
        for res in drain_pipeline(wh, stages):
            print(_json.dumps(res))
        return 0
    except ValueError as e:
        print(f"mv-drain stage refused: {e}", file=sys.stderr)
        return 1
    except AnalysisException as e:
        # an audit-publish stage's expression SQL naming a missing
        # column surfaces at agg time — refuse, don't traceback
        # (ADVICE r18)
        print(f"mv-drain stage refused: {e}", file=sys.stderr)
        return 1
    except BranchMovedError as e:
        # an audit-publish stage's race fence fired: main untouched,
        # earlier stages' commits stand — re-drain after re-auditing
        print(f"mv-drain publish refused: {e}", file=sys.stderr)
        return 1
    finally:
        if owns_session:
            spark.stop()


def _cmd_mv_report(args: argparse.Namespace) -> int:
    """MV-maintainer lag report (VERDICT r15 #6): per source, the
    checkpointed version vs the source head (lag in commits + the
    zero-job pending-row estimate); for the MV, its head, metadata
    row count, pending MoR deletes, applied watermark (aggregate MVs),
    and what mode="auto" would resolve to.  Pure metadata: head JSONs
    and checkpoint files only, no SparkSession is started."""
    import json as _json
    import os as _os

    from hands_on_iceberg_compression_spark.pipeline.cdc_apply import (
        pending_rows_estimate,
    )
    from hands_on_iceberg_compression_spark.pipeline.incremental_mv import (
        _mv_applied_version,
        _resolve_agg_mv_mode,
    )
    from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

    srcs = args.source or []
    cks = args.checkpoint or []
    if len(srcs) != len(cks):
        print(
            f"need one --checkpoint per --source (got {len(srcs)} "
            f"source(s), {len(cks)} checkpoint(s))"
        )
        return 1
    wh = ParquetWarehouse(None, args.warehouse)
    rc = 0
    for dotted, ck in zip(srcs, cks):
        sschema, stable = dotted.split(".", 1)
        if not _os.path.exists(ck):
            head_v = wh._latest_version(sschema, stable)
            if head_v is None:
                print(f"source {dotted}: no snapshot")
                rc = 1
            else:
                print(
                    f"source {dotted}: head v{head_v}  checkpoint {ck}: "
                    "missing (bootstrap pending)"
                )
            continue
        with open(ck) as f:
            st = _json.load(f)
        ckpt_v, branch = st.get("version"), st.get("branch", "main")
        # lag must compare against the head of the REF the checkpoint
        # tracks — version counters are not comparable across refs
        head_v = wh._latest_version(sschema, stable, branch)
        if head_v is None:
            print(
                f"source {dotted}: no snapshot"
                + (f" on branch {branch!r}" if branch != "main" else "")
            )
            rc = 1
            continue
        lag = head_v - ckpt_v
        line = (
            f"source {dotted}: head v{head_v}  checkpoint v{ckpt_v}"
            + (f" (branch {branch})" if branch != "main" else "")
        )
        if lag < 0:
            line += "  STALE REF: head below checkpoint"
            rc = 1
        else:
            est = pending_rows_estimate(
                wh, sschema, stable, ckpt_v, head_v, branch
            )
            line += f"  lag={lag} commit(s)  pending_rows_est={est}"
            # the next pull's window is (ckpt, head] and read_changes
            # needs DENSE versions from the checkpointed one up — flag
            # an already-expired version BEFORE the pull wedges on it
            # (recovery: expire_snapshots(retain_checkpoints=) going
            # forward; start_version skip-forward + full reconcile now).
            # The stat scan is CAPPED (ADVICE r17: a consumer lagging
            # tens of thousands of commits would turn the pure-metadata
            # report into O(lag) filesystem calls): expiry removes
            # oldest-first, so missing versions cluster at the window's
            # OLD end — scan ascending from the checkpoint, stop after
            # enough evidence; a capped clean scan is reported as such
            _SCAN_CAP, _MISS_CAP = 4096, 8
            expired = []
            scanned = 0
            ref_dir = wh._ref_dir(sschema, stable, branch)
            for v in range(ckpt_v, head_v + 1):
                if scanned >= _SCAN_CAP or len(expired) >= _MISS_CAP:
                    break
                scanned += 1
                if not _os.path.exists(
                    _os.path.join(ref_dir, f"v{v:06d}.json")
                ):
                    expired.append(v)
            if expired:
                more = (
                    " (+more; scan capped)"
                    if len(expired) >= _MISS_CAP
                    else ""
                )
                line += (
                    f"  WEDGED: version(s) {expired}{more} expired "
                    "inside the next window"
                )
                rc = 1
            elif scanned < head_v - ckpt_v + 1:
                line += (
                    f"  (window scan capped at {scanned} of "
                    f"{head_v - ckpt_v + 1} versions — none missing "
                    "in the scanned prefix)"
                )
        print(line)
    mschema, mtable = args.mv.split(".", 1)
    mv_v = wh._latest_version(mschema, mtable)
    if mv_v is None:
        print(f"mv {args.mv}: no snapshot (bootstrap pending)")
        return rc
    rows = wh.count_rows(mschema, mtable, fallback=False)
    # zero-parse census (r18): head_snapshot would materialize the
    # whole file list just to count deletes — pending_delete_stats
    # reads the light head only (delete-segment refs carry count/rows)
    dels = wh.pending_delete_stats(mschema, mtable)
    # fragmentation census rides the same light head (r19): live file
    # count is what a max_live_files policy would poll
    fstats = wh.live_file_stats(mschema, mtable)
    applied = _mv_applied_version(wh, mschema, mtable)
    auto = _resolve_agg_mv_mode(wh, mschema, mtable, "auto")
    print(
        f"mv {args.mv}: head v{mv_v}  "
        f"rows={'unknown (unproven delete chain)' if rows is None else rows}  "
        f"pend_dels={dels['entries']}/{dels['rows']}  "
        f"files={fstats['files']}  "
        f"applied_to={'-' if applied < 0 else f'v{applied}'}  "
        f"auto_mode={auto}"
    )
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hands_on_iceberg_compression_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bench", help="codec x level storage bench (EP1)")
    b.add_argument("--rows", type=int, default=100_000)
    b.add_argument("--batch-rows", type=int, default=100_000)
    b.add_argument("--concurrency", type=int, default=4)
    b.add_argument("--schema", choices=["narrow", "wide"], default="narrow")
    b.add_argument("--codecs", choices=["active", "full"], default="active")
    b.add_argument("--warehouse", default="warehouse")
    b.add_argument("--checkpoints", default="checkpoints")
    b.add_argument("--csv", default="results_sizes.csv")
    b.add_argument("--seed", type=int, default=1)
    b.add_argument("--no-compact", action="store_true")
    b.add_argument("--partitioned", action="store_true",
                   help="honor the schema's declared partition transforms")
    b.set_defaults(fn=_cmd_bench)

    p = sub.add_parser("plot", help="render size charts from CSV (EP3)")
    p.add_argument("--csv", default="results_sizes.csv")
    p.add_argument("--assets", default="assets")
    p.set_defaults(fn=_cmd_plot)

    lr = sub.add_parser(
        "log-report", help="manifest-cost + prune metrology for a log table"
    )
    lr.add_argument("--warehouse", default="warehouse")
    lr.add_argument("--schema", dest="schema_name", required=True)
    lr.add_argument("--table", required=True)
    lr.add_argument(
        "--prune",
        default=None,
        help="col:lo:hi range to report planning-time skip for "
        "(empty endpoint = open; ints auto-coerced)",
    )
    lr.set_defaults(fn=_cmd_log_report)

    op = sub.add_parser(
        "optimize",
        help="compact data files (cron-able; keeps MV tick cost flat)",
    )
    op.add_argument("--warehouse", default="warehouse")
    op.add_argument("--schema", dest="schema_name", required=True)
    op.add_argument("--table", required=True)
    op.add_argument(
        "--target-file-size", type=int, default=128 * 1024 * 1024
    )
    op.add_argument(
        "--partition-filter", default="",
        help="scope the rewrite: col=v1,v2 (discrete values)",
    )
    op.add_argument("--branch", default="main")
    op.add_argument(
        "--zorder", default="",
        help="comma-separated columns for a Morton-interleaved rewrite",
    )
    op.set_defaults(fn=_cmd_optimize)

    ex = sub.add_parser(
        "expire",
        help="expire old snapshots (checkpoint-aware retention)",
    )
    ex.add_argument("--warehouse", default="warehouse")
    ex.add_argument("--schema", dest="schema_name", required=True)
    ex.add_argument("--table", required=True)
    ex.add_argument("--keep-last", type=int, default=1)
    ex.add_argument(
        "--older-than", type=float, default=None,
        help="only expire snapshots committed more than this many "
        "seconds ago",
    )
    ex.add_argument(
        "--retain-checkpoints", default="",
        help="comma-separated consumer checkpoint files or directories "
        "— every version >= the oldest registered checkpoint is kept "
        "(empty/missing directories refuse; missing files warn). "
        "End a directory path with '/' to make directory intent "
        "explicit: a missing dir WITHOUT the trailing separator is "
        "indistinguishable from an un-bootstrapped consumer file and "
        "only warns (ADVICE r18)",
    )
    ex.add_argument(
        "--strict-checkpoints", action="store_true",
        help="refuse when a registered checkpoint FILE is missing "
        "(default: warn — an un-bootstrapped consumer is legal)",
    )
    ex.add_argument(
        "--dry-run", action="store_true",
        help="print the victim versions and the resolved checkpoint "
        "floor, remove nothing",
    )
    ex.set_defaults(fn=_cmd_expire)

    mt = sub.add_parser(
        "mv-tick",
        help="run ONE incremental-MV maintenance tick (mv-report's "
        "acting twin; cron-able)",
    )
    mt.add_argument("--warehouse", default="warehouse")
    mt.add_argument(
        "--kind", required=True,
        choices=["keep-latest", "topn", "agg", "join", "cdc-apply"],
    )
    mt.add_argument(
        "--src", required=True,
        help="schema.table source (the LEFT side for kind=join)",
    )
    mt.add_argument(
        "--mv", required=True,
        help="schema.table of the MV (the MERGE target for "
        "kind=cdc-apply)",
    )
    mt.add_argument(
        "--keys", required=True,
        help="comma-separated key (keep-latest/join) or group "
        "(topn/agg) columns",
    )
    mt.add_argument(
        "--checkpoint", required=True,
        help="consumer checkpoint file (the LEFT one for kind=join)",
    )
    mt.add_argument("--ts-col", default="ts")
    mt.add_argument("--tie-col", default="event_id")
    mt.add_argument(
        "--mode", default="auto",
        help="MV write mode: auto (default) / copy-on-write / "
        "merge-on-read; kind=cdc-apply resolves auto to merge-on-read "
        "(the mirror's size is unbounded) and echoes the resolved mode "
        "in the result line",
    )
    mt.add_argument("--src-branch", default="main")
    mt.add_argument("--n", type=int, default=10, help="topn: rows/group")
    mt.add_argument("--order-col", default="", help="topn: order column")
    mt.add_argument(
        "--ascending", action="store_true", help="topn: smallest first"
    )
    mt.add_argument(
        "--sum-cols", default="",
        help="agg: comma-separated columns to sum/avg",
    )
    mt.add_argument("--right", default="", help="join: schema.table")
    mt.add_argument("--checkpoint-right", default="")
    mt.add_argument("--how", default="inner", choices=["inner", "left"])
    mt.add_argument(
        "--right-keys", default="",
        help="join: right-side key names when they differ",
    )
    mt.add_argument("--right-branch", default="main")
    mt.add_argument(
        "--tgt-branch", default="main",
        help="cdc-apply: branch the MERGE commits to",
    )
    mt.add_argument(
        "--max-lag-commits", type=int, default=1,
        help="cdc-apply: fire once the checkpoint lags this far",
    )
    mt.add_argument(
        "--min-batch-rows", type=int, default=0,
        help="cdc-apply: fire early at this many estimated pending rows",
    )
    mt.add_argument(
        "--max-pending-delete-entries", type=int, default=0,
        help="auto-fold the MV/target with optimize() once its pending "
        "merge-on-read delete stack exceeds this many entries "
        "(0 = no policy)",
    )
    mt.add_argument(
        "--max-pending-delete-rows", type=int, default=0,
        help="auto-fold threshold on pending delete ROWS (0 = unset)",
    )
    mt.add_argument(
        "--value-cols", default="",
        help="keep-latest/topn: project the MV to these comma-separated "
        "value columns (key/rank/ordering columns always carried; "
        "empty = all source columns)",
    )
    mt.set_defaults(fn=_cmd_mv_tick)

    au = sub.add_parser(
        "audit",
        help="write-audit-publish gate: run declarative quality checks "
        "on a branch; --publish merges to main only when green",
    )
    au.add_argument("--warehouse", default="warehouse")
    au.add_argument("--schema", dest="schema_name", required=True)
    au.add_argument("--table", required=True)
    au.add_argument("--branch", default="main")
    au.add_argument(
        "--checks", required=True,
        help="JSON file: a list of check dicts (see pipeline/audit.py)",
    )
    au.add_argument(
        "--publish", action="store_true",
        help="merge the branch to main when every check passes "
        "(AuditFailed leaves main untouched)",
    )
    au.set_defaults(fn=_cmd_audit)

    md = sub.add_parser(
        "mv-drain",
        help="tick a declarative MV pipeline (JSON stages, topological "
        "order) — one pass over the whole DAG",
    )
    md.add_argument("--warehouse", default="warehouse")
    md.add_argument(
        "--pipeline", required=True,
        help="JSON file: a list of stage dicts (see pipeline/dag.py)",
    )
    md.set_defaults(fn=_cmd_mv_drain)

    mr = sub.add_parser(
        "mv-report",
        help="MV maintainer lag: checkpoint vs source head, MV state",
    )
    mr.add_argument("--warehouse", default="warehouse")
    mr.add_argument(
        "--source", action="append",
        help="schema.table of a maintained source (repeat for join MVs)",
    )
    mr.add_argument(
        "--checkpoint", action="append",
        help="that source's checkpoint file (pairs with --source order)",
    )
    mr.add_argument("--mv", required=True, help="schema.table of the MV")
    mr.set_defaults(fn=_cmd_mv_report)

    nr = sub.add_parser(
        "ndv-report",
        help="manifest-only distinct-count estimate for a bloom column",
    )
    nr.add_argument("--warehouse", default="warehouse")
    nr.add_argument("--schema", dest="schema_name", required=True)
    nr.add_argument("--table", required=True)
    nr.add_argument("--column", required=True)
    nr.set_defaults(fn=_cmd_ndv_report)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
