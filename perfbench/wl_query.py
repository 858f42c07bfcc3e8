"""``query``: read-only traffic over the paper's codec tables.

Set-up runs the paper's experiment: it loads generated wide-events rows at
zstd-6 with ``pipeline.load``, writes the same rows at zstd-1 and snappy,
and compacts and measures all three tables.  Each round runs one pass of
the headline operator queries in a seeded order over the repository's
``sf0.01`` fixture tables (a copy of which lives in ``perfbench/sf0.01``),
then three lake scans of every shape of the reference's ad-hoc query list
through ``warehouse.read_where`` with seed-drawn literals.  Every result is
checked against DuckDB afterwards.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import math
import os

from harness import content_checksum, median
from hands_on_iceberg_compression_spark.operators import all_queries
from hands_on_iceberg_compression_spark.pipeline import load, metrology
from hands_on_iceberg_compression_spark.schema.reference_schemas import wide_events_config
from hands_on_iceberg_compression_spark.sources import warehouse as warehouse_mod

ROWS = 10_000
BATCHES = 2
TABLE = "events_zstd6"
# codec variant -> (table, codec, level); the scans read the zstd-6 table
VARIANTS = {
    "zstd-6": (TABLE, "zstd", 6),
    "zstd-1": ("events_zstd1", "zstd", 1),
    "snappy": ("events_snappy", "snappy", None),
}
# the operator pass: bench.py's HEADLINE registry queries, pinned here so
# the measured work stays the same when that list changes
OPERATORS = [
    "count_star", "filter_eq_string", "filter_between", "like_common",
    "flagship_conjunction", "scan_limit", "sort_limit", "group_agg",
    "per_minute_rollup", "distinct_count", "join_broadcast_star",
    "join_shuffle_agg", "tpch_q3_shape", "window_topn", "asof_join",
    "sessionize", "range_join_banded", "tpch_q6_shape", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "sim_knn_bruteforce",
    "text_quality_score", "text_word_freq_topk", "dedup_keep_latest",
    "tpch_q1_shape",
]
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# a pass takes far longer than a scan: each round scans every shape
# SCAN_REPEATS times, so the scan medians rest on several samples
SCAN_REPEATS = 3
# The second pass of a fresh JVM still runs about a fifth slower than later
# ones while the JIT compiles, and under host CPU steal that gap widens
# several times; two untimed rounds put the timed pass past it.
WARM_ROUNDS = 2
SHAPES = [
    "eq_miss", "eq_hit_limit", "ts_eq", "ts_range", "between",
    "like3", "like5", "like7", "like_between", "flagship",
]
HEX = "0123456789abcdef"


def _ts(s: str) -> str:
    return f"TIMESTAMP '{s}'"


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Order-insensitive row equality, floats to a relative 1e-9."""
    if len(a) != len(b):
        return False
    key = lambda r: tuple((x is None, repr(_norm(x))) for x in r)  # noqa: E731
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif _norm(x) != _norm(y):
                return False
    return True


class Query:
    main_classes = tuple(f"scan.{shape}" for shape in SHAPES)
    aux_classes = ("operator_pass",)
    # one set-up per run: a second ingest of the wide table would cost
    # more than a whole measured loop
    setup_repeats = 1
    cycle = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.cfg = dataclasses.replace(wide_events_config(schema="bench"), partitioning=[])
        self.gen_seed = int(ctx.rng.integers(1, 2**31 - 1))
        self.fixture_dir = FIXTURE_DIR
        self.queries = {n: q for n, q in all_queries().items() if n in OPERATORS}
        self.scans: list[tuple[str, str, object]] = []  # (shape, condition, result)
        self.op_results: dict[str, list] = {}
        self.kept: list[float] = []
        self.sizes: dict[str, object] = {}

    # --- set-up ---------------------------------------------------------
    def prepare(self, k: int) -> None:
        """The paper's experiment: load the generated rows at zstd-6 in
        two batches, write the same rows at zstd-1 and snappy, then
        compact and measure each table."""
        ctx, wh, cfg = self.ctx, self.ctx.wh, self.cfg
        wh.create_table(cfg.schema, TABLE, "zstd", 6, {"snapshots": "true"})
        load.load_table(ctx.spark, wh, cfg, TABLE, load.LoadPlan(
            total_rows=ROWS, batch_rows=ROWS // BATCHES, concurrency=min(ctx.nproc, BATCHES),
            checkpoint_dir=os.path.join(ctx.workdir, "ckpt"), seed=self.gen_seed,
            progress=False,
        ))
        with ctx.quiet():
            loaded = wh.files(cfg.schema, TABLE)
        self.files_per_batch = len(loaded) / BATCHES
        self.bytes_rewritten = sum(f.file_size_in_bytes for f in loaded)
        for key, (table, codec, level) in VARIANTS.items():
            if table != TABLE:
                wh.create_table(cfg.schema, table, codec, level, {"snapshots": "true"})
                wh.append(cfg.schema, table, wh.read(cfg.schema, TABLE))
            wh.optimize(cfg.schema, table)
            self.sizes[key] = metrology.measure_sizes(wh, cfg.schema, table, codec, level)

    def warm_up(self) -> None:
        ctx, wh, cfg = self.ctx, self.ctx.wh, self.cfg
        # literal pool: real values of seed-drawn rows, so hit shapes hit
        ids = sorted({int(i) for i in ctx.rng.integers(1, ROWS + 1, 64)})
        with ctx.quiet():
            rows = (
                wh.read(cfg.schema, TABLE)
                .where(f"id IN ({','.join(map(str, ids))})")
                .selectExpr(
                    "id", "row_61", "row_73", "row_74", "row_9",
                    "date_format(row_1, 'yyyy-MM-dd HH:mm:ss') AS ts1",
                )
                .collect()
            )
        self.pool = [r.asDict() for r in rows]
        for _ in range(WARM_ROUNDS):
            self.round(timed=False)

    # --- one round ------------------------------------------------------
    def round(self, timed: bool = True) -> None:
        self._operator_pass(timed)
        repeats = SCAN_REPEATS if timed else 1  # a scan warms up in one go
        for i in self.ctx.rng.permutation(len(SHAPES) * repeats):
            self._scan(SHAPES[i % len(SHAPES)], timed)

    def _operator_pass(self, timed: bool) -> None:
        ctx = self.ctx
        order = [OPERATORS[i] for i in ctx.rng.permutation(len(OPERATORS))]
        with ctx.op("operator_pass", timed):
            for name in order:
                with ctx.span(f"query.{name}", "bench"):
                    with ctx.span(f"operators.{name}.build", "operators"):
                        df = self.queries[name].build(ctx.spark, self.fixture_dir)
                    with ctx.span("spark.collect", "spark"):
                        rows = df.collect()
                if timed:
                    self.op_results.setdefault(name, []).append(
                        (df.columns, [tuple(r) for r in rows])
                    )

    def _condition(self, shape: str) -> str:
        rng, pick = self.ctx.rng, self.pool[int(self.ctx.rng.integers(len(self.pool)))]
        day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 330)))
        span = dt.timedelta(days=int(rng.integers(1, 30)))
        lo = int(rng.integers(1000, 9000))

        def needle(n: int) -> str:
            s = pick["row_73"]
            at = int(rng.integers(0, len(s) - n + 1))
            return s[at:at + n]

        if shape == "eq_miss":
            return "row_3 = '" + "".join(rng.choice(list(HEX), 7)) + "'"
        if shape == "eq_hit_limit":
            return f"row_61 = '{pick['row_61']}'"
        if shape == "ts_eq":
            return f"row_1 = {_ts(pick['ts1'])}"
        if shape == "ts_range":
            return f"row_1 >= {_ts(f'{day} 00:00:00')} AND row_1 < {_ts(f'{day + span} 00:00:00')}"
        if shape == "between":
            return f"row_9 BETWEEN {lo} AND {lo + 1000}"
        if shape in ("like3", "like5", "like7"):
            return f"row_73 LIKE '%{needle(int(shape[-1]))}%'"
        if shape == "like_between":
            return f"row_73 LIKE '%{needle(3)}%' AND row_9 BETWEEN {lo} AND {lo + 3000}"
        return (
            f"row_74 LIKE '%{pick['row_74'][:2]}%' AND row_2 BETWEEN "
            f"{_ts(f'{day} 00:00:00')} AND {_ts(f'{day + 4 * span} 00:00:00')} "
            f"AND row_10 < {int(rng.integers(1500, 2500))}"
        )

    def _scan(self, shape: str, timed: bool) -> None:
        ctx, wh, cfg = self.ctx, self.ctx.wh, self.cfg
        cond = self._condition(shape)
        with ctx.op(f"scan.{shape}", timed):
            df = wh.read_where(cfg.schema, TABLE, cond)
            with ctx.span("spark.action", "spark"):
                if shape == "eq_hit_limit":
                    result = [r["id"] for r in df.orderBy("id").limit(10).collect()]
                else:
                    result = df.count()
        if timed:
            self.scans.append((shape, cond, result))
            if ctx.tracing_now:
                ranges = warehouse_mod.ranges_from_condition(cond)
                if ranges:
                    with ctx.quiet():
                        kept, total = wh.prune_files(cfg.schema, TABLE, ranges)
                    self.kept.append(len(kept) / total)

    # --- correctness ------------------------------------------------------
    def check(self) -> list[str]:
        import duckdb

        ctx, wh, cfg = self.ctx, self.ctx.wh, self.cfg
        errors = []
        sums = {key: content_checksum(wh.read(cfg.schema, table))
                for key, (table, _codec, _level) in VARIANTS.items()}
        for key, (table, _codec, _level) in VARIANTS.items():
            if sums[key][0] != ROWS or wh.count_rows(cfg.schema, table) != ROWS:
                errors.append(f"{key} table: {sums[key][0]} rows != {ROWS} generated")
            if sums[key] != sums["zstd-6"]:
                errors.append(f"{key} table: checksum {sums[key]} != zstd-6 {sums['zstd-6']}")
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(ctx.workdir, 'tmp')}'")
            con.execute("SET TimeZone='UTC'")
            files = [f.file_path for f in wh.files(cfg.schema, TABLE)]
            con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet({files!r})")
            for shape, cond, got in self.scans:
                if shape == "eq_hit_limit":
                    want = [r[0] for r in con.execute(
                        f"SELECT id FROM t WHERE {cond} ORDER BY id LIMIT 10").fetchall()]
                else:
                    want = con.execute(f"SELECT count(*) FROM t WHERE {cond}").fetchone()[0]
                if got != want:
                    errors.append(f"lake_scan {shape} [{cond}]: {got} != duckdb {want}")
            for name in FIXTURE_TABLES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(self.fixture_dir, name)}.parquet'"
                )
            for name, results in self.op_results.items():
                oracle = self.queries[name].oracle
                if oracle is None:
                    continue
                cur = con.execute(oracle)
                ocols = [d[0] for d in cur.description]
                want = [tuple(r) for r in cur.fetchall()]
                for cols, rows in results:
                    order = [cols.index(c) for c in sorted(cols)]
                    oorder = [ocols.index(c) for c in sorted(ocols)]
                    same = sorted(cols) == sorted(ocols) and _same_rows(
                        [tuple(r[i] for i in order) for r in rows],
                        [tuple(r[i] for i in oorder) for r in want],
                    )
                    if not same:
                        errors.append(f"operator {name}: result differs from its DuckDB oracle")
                        break
        finally:
            con.close()
        return errors

    # --- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        s = self.ctx.samples
        return {
            # mean of the per-shape medians: every shape weighs the same
            "main_p50_ms": sum(median(s.get(f"scan.{shape}")) for shape in SHAPES) / len(SHAPES),
            "aux_p50_ms": median(s.get("operator_pass")),
            "bytes_per_row": self.bytes_per_row("zstd-6"),
        }

    def bytes_per_row(self, key: str) -> float:
        size = self.sizes[key]
        return size.data_bytes / size.row_count

    def layer_extras(self) -> dict[str, float]:
        tr = self.ctx.tracer
        out = {
            "warehouse.files_kept_frac": sum(self.kept) / len(self.kept) if self.kept else 0.0,
            "warehouse.optimize.bytes_rewritten": float(self.bytes_rewritten),
            "warehouse.append.files_written": self.files_per_batch,
            "metrology.bytes_per_row.zstd-1": self.bytes_per_row("zstd-1"),
            "metrology.bytes_per_row.snappy": self.bytes_per_row("snappy"),
        }
        traced = {s[6] for s in tr.spans if s[1] == "op.operator_pass"} - {-1}
        for name in OPERATORS:
            d = tr.durations(f"query.{name}", traced)
            out[f"operators.{name}_ms"] = median(d) if d else 0.0
        return out

    def footprint(self) -> tuple[str, str]:
        return self.cfg.schema, TABLE

    def diagnostics(self) -> list[str]:
        return [
            f"{key}: {self.bytes_per_row(key):.2f} B/row, {size.data_bytes} data bytes, "
            f"{size.file_count} file(s), {size.row_count} rows"
            for key, size in self.sizes.items()
        ]
