"""``cdc``: merge-on-read writes beside reads on one snapshot table.

Set-up seeds an unpartitioned ``snapshots=true`` table of the narrow
example schema and bootstraps a status x country aggregate view over it,
three times in fresh schemas; the rounds use the last.  Each round appends
new ids, upserts a block of existing ids and deletes an id range (both
merge-on-read), reads an id-range and status predicate and counts rows,
and takes the metadata census; every third round folds the pending
deletes.  A replay model of the applied operations (which ids are live,
and which generator seed wrote each) checks the table afterwards.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
from pyspark.sql import functions as F

from harness import content_checksum, median
from hands_on_iceberg_compression_spark.functions import generators
from hands_on_iceberg_compression_spark.pipeline import incremental_mv, load, metrology
from hands_on_iceberg_compression_spark.schema.reference_schemas import narrow_example_config
from hands_on_iceberg_compression_spark.sources import warehouse as warehouse_mod


SEED_ROWS = 20_000
APPEND_ROWS = 1_000
UPSERT_ROWS = 500
DELETE_WIDTH = 200
READ_WIDTH = 2_000
STRATA = 8  # upsert, delete and read blocks cycle through 8 strata of the seeded ids
# One warm-up round (iteration 1); loop round r is iteration r + 2, and a
# traced run traces the odd rounds.  The fold runs every 3rd iteration, so
# it lands in traced and untraced rounds alike.  In the loop the view ticks
# only in traced rounds (iterations 3, 7, ..: rounds 1, 5, ..): a tick
# costs as much as two whole rounds and moves no end-to-end metric, so
# untraced runs spend that time on more samples.  A run measures whole
# fold cycles (loop rounds 0-2 are iterations 2-4 with the fold at 3), so
# every run reads through the same mix of pending deletes whatever the
# host's speed.
WARM_ROUNDS = 1
TICK_EVERY, TICK_AT, FOLD_EVERY = 4, 3, 3
MAX_IDS = SEED_ROWS + APPEND_ROWS * 400
TABLE, MV = "orders_cdc", "orders_by_status_country"
GROUPS = ["status", "country"]
COMMITS = ("append", "upsert", "delete")


class Cdc:
    main_classes, aux_classes = COMMITS, ("read",)
    setup_repeats = 3  # seeding is cheap once warm: take the median of three
    cycle = FOLD_EVERY

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        cfg = narrow_example_config(schema="bench")
        cols = dict(cfg.columns)
        # view group keys must be non-null (merge key semantics)
        cols["country"] = dataclasses.replace(cols["country"], nullable=0.0)
        self.cfg = dataclasses.replace(cfg, columns=cols, partitioning=[])
        self.base_seed = int(ctx.rng.integers(1, 2**31 - 1 - 10_000))
        self.live = np.zeros(MAX_IDS + 1, dtype=bool)
        self.writer = np.zeros(MAX_IDS + 1, dtype=np.int64)
        self.next_id = 1
        self.iteration = 0
        self.count_errors: list[str] = []
        self.kept: list[float] = []
        self.fast_path: list[bool] = []
        self.pending: list[int] = []
        self.groups_refreshed: list[int] = []
        self.change_rows: list[int] = []
        self.rows_since_tick = 0
        self.append_files: list[int] = []
        self.footprint_bpr = 0.0
        self.footprint_deletes = (0, 0)

    def _block(self, k: int, width: int) -> int:
        """First id of a ``width``-id block in stratum ``k % STRATA`` of
        the seeded ids, at a seed-drawn offset inside the stratum.  Every
        run spreads its blocks over the table the same way, so runs with
        different seeds do comparable work."""
        stratum = SEED_ROWS // STRATA
        return 1 + (k % STRATA) * stratum + int(self.ctx.rng.integers(0, stratum - width))

    def _gen(self, start: int, n: int, seed: int):
        return generators.generate_df(self.ctx.spark, self.cfg, start_id=start, num_rows=n, seed=seed)

    def prepare(self, k: int) -> None:
        """Set-up step ``k`` of three: seed a fresh table and bootstrap
        its view in schema ``cdc<k>``.  The rounds use the last one."""
        ctx = self.ctx
        self.cfg = dataclasses.replace(self.cfg, schema=f"cdc{k}")
        self.ckpt = os.path.join(ctx.workdir, f"mv-{k}.ckpt")
        wh, cfg = ctx.wh, self.cfg
        wh.create_table(cfg.schema, TABLE, "zstd", 3, {"snapshots": "true"})
        wh.create_table(cfg.schema, MV, "zstd", 3, {"snapshots": "true"})
        load.load_table(ctx.spark, wh, cfg, TABLE, load.LoadPlan(
            total_rows=SEED_ROWS, batch_rows=SEED_ROWS // 2, concurrency=min(ctx.nproc, 2),
            checkpoint_dir=os.path.join(ctx.workdir, f"ckpt-{k}"), seed=self.base_seed,
            progress=False,
        ))
        self.live[1:SEED_ROWS + 1] = True
        self.writer[1:SEED_ROWS + 1] = self.base_seed
        self.next_id = SEED_ROWS + 1
        self._tick(timed=False)  # bootstraps the view

    def warm_up(self) -> None:
        for _ in range(WARM_ROUNDS):  # every operation once
            self.round(timed=False)
        self._tick(timed=False)  # an incremental tick

    def _tick(self, timed: bool) -> None:
        ctx = self.ctx
        with ctx.op("mv_tick", timed):
            res = incremental_mv.maintain_agg_mv(
                ctx.wh, (self.cfg.schema, TABLE), (self.cfg.schema, MV), GROUPS,
                sum_cols=["age"], checkpoint_file=self.ckpt,
            )
        if timed:
            self.groups_refreshed.append(int(res.get("groups_refreshed", 0)))
            self.change_rows.append(self.rows_since_tick)
        self.rows_since_tick = 0
        with ctx.quiet():  # the table version the view now reflects
            self.view_version = ctx.wh.head_snapshot(self.cfg.schema, TABLE)["version"]

    def _commit(self, cls: str, fn, rows: int, timed: bool) -> None:
        with self.ctx.op(cls, timed):
            fn()
        self.rows_since_tick += rows

    def round(self, timed: bool = True) -> None:
        ctx, wh, sch = self.ctx, self.ctx.wh, self.cfg.schema
        self.iteration += 1
        sampling = timed and ctx.tracing_now  # per-layer counts, traced rounds only
        # append new ids
        lo = self.next_id
        df = self._gen(lo, APPEND_ROWS, self.base_seed)
        if sampling:
            with ctx.quiet():
                files_before = len(wh.files(sch, TABLE))
        self._commit("append", lambda: wh.append(sch, TABLE, df), APPEND_ROWS, timed)
        if sampling:
            with ctx.quiet():
                self.append_files.append(len(wh.files(sch, TABLE)) - files_before)
        self.live[lo:lo + APPEND_ROWS] = True
        self.writer[lo:lo + APPEND_ROWS] = self.base_seed
        self.next_id += APPEND_ROWS
        # upsert a block of existing ids with a new generator seed
        lo = self._block(self.iteration, UPSERT_ROWS)
        seed = self.base_seed + self.iteration
        df = self._gen(lo, UPSERT_ROWS, seed)
        self._commit("upsert", lambda: wh.merge_upsert(
            sch, TABLE, df, ["id"], mode="merge-on-read"), UPSERT_ROWS, timed)
        self.live[lo:lo + UPSERT_ROWS] = True
        self.writer[lo:lo + UPSERT_ROWS] = seed
        # delete an id range
        lo = self._block(self.iteration + 3, DELETE_WIDTH)
        hi = lo + DELETE_WIDTH - 1
        gone = int(self.live[lo:hi + 1].sum())
        self._commit("delete", lambda: wh.delete_where(
            sch, TABLE, f"id BETWEEN {lo} AND {hi}", mode="merge-on-read"), gone, timed)
        self.live[lo:hi + 1] = False
        # one monitoring read: paid orders in an id range, and the row count
        lo = self._block(self.iteration + 5, READ_WIDTH)
        cond = f"id BETWEEN {lo} AND {lo + READ_WIDTH - 1} AND status = 'paid'"
        with ctx.op("read", timed):
            df = wh.read_where(sch, TABLE, cond)
            with ctx.span("spark.action", "spark"):
                df.count()
            n = wh.count_rows(sch, TABLE)
        if n != int(self.live.sum()):
            self.count_errors.append(f"iteration {self.iteration}: count_rows {n} != model {int(self.live.sum())}")
        with ctx.op("census", timed):
            census = metrology.measure_log_table(wh, sch, TABLE)
        if sampling and self.iteration % TICK_EVERY == TICK_AT:
            self._tick(timed)
        # the footprint is taken before this round's fold, while the
        # round's and the previous rounds' delete files are still pending
        if timed and self.iteration == FOLD_EVERY:
            self.footprint_bpr = self._bytes_per_live_row()
        if self.iteration % FOLD_EVERY == 0:
            with ctx.op("fold", timed):
                wh.fold_pending_deletes(sch, TABLE)
        if sampling:
            self.pending.append(census.delete_files)
            with ctx.quiet():
                kept, total = wh.prune_files(sch, TABLE, warehouse_mod.ranges_from_condition(cond))
                self.kept.append(len(kept) / total)
                self.fast_path.append(wh.count_rows(sch, TABLE, fallback=False) is not None)

    def _bytes_per_live_row(self) -> float:
        """Bytes reachable from the head snapshot (data files, pending
        delete files, snapshot manifests) per visible row.  The visible
        rows are the replay model's, which ``count_rows`` matched this
        round: with deletes pending, ``count_rows`` reads the table, and
        that read would eat into the measured loop."""
        wh, sch = self.ctx.wh, self.cfg.schema
        with self.ctx.quiet():
            data = sum(f.file_size_in_bytes for f in wh.files(sch, TABLE))
            head = wh.head_snapshot(sch, TABLE)
            deletes = head.get("deletes") or []
            dels = sum(d.get("bytes", 0) for d in deletes)
            manifests = wh.snapshot_manifest_bytes(sch, TABLE)
        self.footprint_deletes = (len(deletes), dels)
        return (data + dels + manifests) / int(self.live.sum())

    def check(self) -> list[str]:
        """The table equals the replay model; count_rows matched the model
        after every round; the view equals a fresh groupBy of the table
        version its last tick reached."""
        ctx, wh, sch = self.ctx, self.ctx.wh, self.cfg.schema
        errors = list(self.count_errors)
        ids = np.flatnonzero(self.live)
        expected = None
        for seed in sorted(set(self.writer[ids].tolist())):
            # a row's values depend on (id, seed) only: regenerate the id
            # runs this seed wrote last and that are still live
            mine = ids[self.writer[ids] == seed]
            cut = np.flatnonzero(np.diff(mine) != 1)
            runs = zip(np.r_[mine[0], mine[cut + 1]].tolist(), np.r_[mine[cut], mine[-1]].tolist())
            part = self._gen(int(mine[0]), int(mine[-1] - mine[0]) + 1, seed).where(
                " OR ".join(f"id BETWEEN {lo} AND {hi}" for lo, hi in runs)
            )
            expected = part if expected is None else expected.unionByName(part)
        table = wh.read(sch, TABLE)
        got, want = content_checksum(table), content_checksum(expected.select(*table.columns))
        if got != want:
            errors.append(f"table checksum {got} != replay model {want}")
        if wh.count_rows(sch, TABLE) != table.count():
            errors.append("count_rows != read().count()")
        # the view as of its last tick, against the table at that version
        at_tick = wh.read_snapshot(sch, TABLE, self.view_version)
        fresh = at_tick.groupBy(*GROUPS).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("age").alias("sum_age"),
            F.count("age").alias("nn_age"),
        )
        view = wh.read(sch, MV).where("cnt > 0").select(*GROUPS, "cnt", "sum_age", "nn_age")
        if sorted(map(tuple, fresh.collect())) != sorted(map(tuple, view.collect())):
            errors.append("aggregate view differs from a fresh groupBy of the table")
        return errors

    def end_to_end(self) -> dict[str, float]:
        s = self.ctx.samples
        return {
            # mean of the per-class medians: a pooled median would sit on
            # the boundary between the classes' latency clusters
            "main_p50_ms": sum(median(s.get(c)) for c in COMMITS) / len(COMMITS),
            "aux_p50_ms": median(s.get("read")),
            "bytes_per_row": self.footprint_bpr,
        }

    def layer_extras(self) -> dict[str, float]:
        return {
            "warehouse.files_kept_frac": sum(self.kept) / len(self.kept) if self.kept else 0.0,
            "warehouse.count_rows.fast_path_frac": (
                sum(self.fast_path) / len(self.fast_path) if self.fast_path else 0.0
            ),
            "warehouse.pending_delete_files": median(self.pending) if self.pending else 0.0,
            "mv.groups_refreshed_per_tick": (
                median(self.groups_refreshed) if self.groups_refreshed else 0.0
            ),
            "mv.change_rows_per_tick": median(self.change_rows) if self.change_rows else 0.0,
            "warehouse.append.files_written": (
                median(self.append_files) if self.append_files else 0.0
            ),
        }

    def footprint(self) -> tuple[str, str]:
        return self.cfg.schema, TABLE

    def diagnostics(self) -> list[str]:
        return [
            f"{self.iteration} iterations, {int(self.live.sum())} live rows, "
            f"bytes/live row in iteration {FOLD_EVERY}, before its fold: "
            f"{self.footprint_bpr:.2f} ({self.footprint_deletes[0]} pending delete "
            f"file(s), {self.footprint_deletes[1]} B)"
        ]
