"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {query,cdc} --seed N \
        --seconds S --trace {0,1}

Run from the repository root: the package under test is imported from the
current directory.  Workloads, metric names, units and bounds are declared
in ``BENCHMARK.json``; ``perfbench/METRICS.md`` says what each metric
measures on each workload and which end-to-end metric each per-layer metric
should move.

One closed-loop client on ``local[nproc]``.  Set-up starts the session,
prepares the workload's data (three times for ``cdc``; ``setup_s`` counts
the median preparation) and warms up.  The loop then starts rounds of the workload
until ``--seconds`` is used up; the round in progress finishes.
``--trace 1`` alternates untraced and traced rounds over the same
budget: per-layer metrics come from the traced rounds' spans, and
the tracing overhead is the traced rounds' medians against the untraced
rounds'.  Correctness is checked after the loop, untimed; a mismatch marks
the run incorrect and the command exits 1.

The human-readable report goes to stdout; the last stdout line is the
JSON result.  Scratch data lives under ``.perfbench_work/`` and is removed
at exit; spans of a traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from contextlib import ExitStack, contextmanager

T_START = time.perf_counter()
ROOT = os.getcwd()


class Ctx:
    """What a workload sees: the session, the warehouse, the seeded RNG and
    the recorders for the current round."""

    def __init__(self, spark, wh, workdir: str, seed: int, nproc: int, tracer) -> None:
        import numpy as np

        from harness import Samples, SparkCounter

        self.spark, self.wh, self.workdir, self.nproc = spark, wh, workdir, nproc
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.plain, self.traced = Samples(), Samples()
        self.samples = self.plain
        self.tracing_now = tracer is not None  # set-up is traced in a traced run
        self.counter = SparkCounter(spark) if tracer is not None else None

    @contextmanager
    def op(self, cls: str, timed: bool = True):
        """One client operation of class ``cls``; timed ops become samples."""
        with ExitStack() as stack:
            if self.tracing_now:
                if timed:
                    stack.enter_context(self.counter.op(cls))
                stack.enter_context(self.tracer.span(f"op.{cls}", "bench"))
            if timed:
                self.samples.attempted += 1
            t0 = time.perf_counter()
            yield
            seconds = time.perf_counter() - t0
        if timed:
            self.samples.add(cls, seconds * 1000.0)

    @contextmanager
    def span(self, name: str, layer: str):
        """A span around a call the benchmark makes itself (a DataFrame
        action, an operator build)."""
        if self.tracing_now:
            with self.tracer.span(name, layer):
                yield
        else:
            yield

    @contextmanager
    def quiet(self):
        """Bookkeeping calls into the package that are no client work."""
        if self.tracer is not None:
            with self.tracer.quiet():
                yield
        else:
            yield


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _session(workdir: str, nproc: int):
    from hands_on_iceberg_compression_spark import session

    tmp = os.path.join(workdir, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return session.make_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        warehouse_dir=os.path.join(workdir, "spark-warehouse"),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process the session launched."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot, from /proc/stat: how much of
    the machine other tenants took, recorded as context for a run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, fn))
        for base, _d, fns in os.walk(path)
        for fn in fns
    )


def _layer_metrics(ctx, wl, traced_iters: set[int]) -> dict[str, float]:
    """Per-layer metrics from the traced rounds' spans and the workload's
    own counts; a layer the workload never calls reports 0."""
    from harness import median
    from hands_on_iceberg_compression_spark.pipeline import metrology

    tr = ctx.tracer
    n_iter = max(1, len(traced_iters))

    def p50(name: str, scale: float = 1.0) -> float:
        d = tr.durations(name)
        return median(d) * scale if d else 0.0

    out: dict[str, float] = {}
    for layer, secs in tr.self_times(traced_iters).items():
        out[f"self_ms.{layer}"] = secs * 1000.0 / n_iter
    out["session.make_session_s"] = p50("session.make_session", 1e-3)
    out["generators.generate_df_ms"] = p50("generators.generate_df")
    out["load.load_table_s"] = p50("load.load_table", 1e-3)
    loads = [s[0] for s in tr.spans if s[1] == "load.load_table"]
    appends_in_load = [s[5] for s in tr.spans if s[1] == "warehouse.append" and s[5] in set(loads)]
    out["load.batches"] = len(appends_in_load) / len(loads) if loads else 0.0
    batch = tr.child_durations("warehouse.append", "load.load_table")
    out["load.batch_p50_ms"] = median(batch) if batch else 0.0
    for name in ("append", "commit_snapshot", "merge_upsert", "delete_where", "count_rows"):
        out[f"warehouse.{name}_p50_ms"] = p50(f"warehouse.{name}")
    out["warehouse.optimize_s"] = p50("warehouse.optimize", 1e-3)
    out["warehouse.fold_pending_deletes_s"] = p50("warehouse.fold_pending_deletes", 1e-3)
    out["warehouse.read_where_plan_ms"] = p50("warehouse.read_where")
    out["metrology.measure_sizes_ms"] = p50("metrology.measure_sizes")
    out["mv.maintain_agg_mv_p50_ms"] = p50("incremental_mv.maintain_agg_mv")
    out["fixtures.load_table_ms"] = p50("fixtures.load_table")
    builds = [
        (s[4] - s[3]) * 1000.0 for s in tr.spans if s[2] == "operators" and s[1].endswith(".build")
    ]
    out["operators.build_ms"] = median(builds) if builds else 0.0

    # storage footprint of the workload's main table: directory walk vs
    # bytes the head snapshot references, and the metadata census
    schema, table = wl.footprint()
    with ctx.quiet():
        live = sum(f.file_size_in_bytes for f in ctx.wh.files(schema, table))
        log = metrology.measure_log_table(ctx.wh, schema, table)
    out["warehouse.bytes_written_per_live_byte"] = _dir_bytes(ctx.wh._tdir(schema, table)) / live
    out["warehouse.snapshots"] = float(log.snapshots)
    out["warehouse.segment_count"] = float(log.segment_count)
    out["warehouse.head_bytes"] = float(log.head_bytes)
    out["warehouse.pending_delete_files"] = float(log.delete_files)

    for role, classes in (("main", wl.main_classes), ("aux", wl.aux_classes)):
        jobs, tasks = ctx.counter.mean(*classes)
        out[f"spark.jobs_per_op.{role}"] = jobs
        out[f"spark.tasks_per_op.{role}"] = tasks
    out.update(wl.layer_extras())
    return out


def main() -> int:
    args = _parse()
    spec = _load_spec()
    workloads = {w["name"] for w in spec["workloads"]}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2
    try:  # the package under test, from the checkout being measured
        sys.path.insert(0, ROOT)
        import hands_on_iceberg_compression_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        from harness import Tracer, median, percentile

        tracer = Tracer() if args.trace else None
        if tracer is not None:
            tracer.install()
        spark = _session(workdir, nproc)
        session_s = time.perf_counter() - T_START
        from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

        ctx = Ctx(spark, ParquetWarehouse(spark, os.path.join(workdir, "wh")),
                  workdir, args.seed, nproc, tracer)
        if args.workload == "query":
            from wl_query import Query as W
        else:
            from wl_cdc import Cdc as W
        wl = W(ctx)
        # set-up: the session once, the workload's data preparation
        # setup_repeats times (median), then its warm-up once
        prepare_s = []
        for k in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.prepare(k)
            prepare_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        setup_s = session_s + median(prepare_s) + warm_up_s
        load1, steal1 = os.getloadavg()[0], _steal_ticks()

        budget = args.seconds
        # a run ends on a whole number of the workload's round cycles, so
        # every run measures the same mix of rounds; a traced run also
        # ends on an even round count, so both kinds of round are measured
        cycle = math.lcm(wl.cycle, 2) if tracer is not None else wl.cycle
        traced_iters: set[int] = set()
        t_loop, rounds = time.perf_counter(), 0
        while True:
            traced_round = tracer is not None and rounds % 2 == 1
            if tracer is not None:
                tracer.iteration = rounds
                ctx.tracing_now = traced_round
                (tracer.install if traced_round else tracer.uninstall)()
            ctx.samples = ctx.traced if traced_round else ctx.plain
            if traced_round:
                traced_iters.add(rounds)
            wl.round()
            rounds += 1
            if time.perf_counter() - t_loop >= budget and rounds % cycle == 0:
                break
        loop_s = time.perf_counter() - t_loop
        steal2 = _steal_ticks()
        if tracer is not None:
            tracer.uninstall()
            ctx.tracing_now = False
        ctx.samples = ctx.plain

        t0 = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t0
        attempted = ctx.plain.attempted + ctx.traced.attempted
        failed = len(errors)
        e2e = dict(wl.end_to_end(), setup_s=setup_s)

        print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
              f"{rounds} rounds in {loop_s:.1f} s on local[{nproc}], "
              f"loadavg {load1:.2f} -> {os.getloadavg()[0]:.2f}, host steal "
              f"{100.0 * (steal2[0] - steal1[0]) / max(1, steal2[1] - steal1[1]):.1f}% of CPU time")
        print(f"  set-up: session {session_s:.2f} s, prepare "
              f"{' '.join(f'{s:.2f}' for s in prepare_s)} s, warm-up {warm_up_s:.2f} s; "
              f"checks {check_s:.2f} s (untimed)")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        for cls, vals in sorted(ctx.plain.ms.items()):
            line = f"  {cls}: n={len(vals)} p50={median(vals):.2f} ms"
            if len(vals) >= 2:
                line += f" p90={percentile(vals, 0.9):.2f} ms"
            print(line)
        for line in wl.diagnostics():
            print(f"  {line}")
        print(f"  failed_op_frac: {failed / max(1, attempted):.4f} ({failed}/{attempted})")
        for err in errors:
            print(f"  WRONG: {err}")

        if tracer is None:
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        else:
            layer = _layer_metrics(ctx, wl, traced_iters)
            saved, ctx.samples = ctx.samples, ctx.traced
            traced_e2e = wl.end_to_end()
            ctx.samples = saved
            for role in ("main", "aux"):
                base = e2e[f"{role}_p50_ms"]
                layer[f"trace.overhead_frac.{role}"] = (traced_e2e[f"{role}_p50_ms"] - base) / base
                print(f"  tracing overhead {role}_p50_ms: {base:.2f} -> "
                      f"{traced_e2e[f'{role}_p50_ms']:.2f} ms")
            metrics = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        for name, value in metrics.items():
            print(f"  {name} = {value:.6g} {units[name]}")

        result = {
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        _stop_session(spark)
        spark = None
        print(json.dumps(result), flush=True)
        return 0 if not errors else 1
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
