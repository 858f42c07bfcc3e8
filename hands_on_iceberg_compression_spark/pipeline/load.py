"""Batched, checkpointed, concurrency-limited bulk load.

Parity: reference ``src/commands/bench.ts:52-110`` (loadTable),
``src/utils.ts:24-38`` (makeBatches), ``src/Limiter.ts`` (semaphore),
``src/config/load.ts`` (plan knobs) — operators C1-C5.

Spark-first shape: one batch = ``spark.range(lo, hi, numPartitions=N)`` +
generator projection + append; Spark parallelizes *within* the batch across
executors, so the reference's 4-way async HTTP concurrency becomes optional
(kept as a thread pool for multi-batch pipelining of small batches).  The
JSON checkpoint protocol is preserved so a 1B-row load survives restarts —
re-running skips completed batches (bench.ts:69-74 invariant).
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from hands_on_iceberg_compression_spark.functions.generators import generate_df
from hands_on_iceberg_compression_spark.schema.specs import TableConfig
from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@dataclass(frozen=True)
class Batch:
    """makeBatches output row (utils.ts:24-38)."""

    index: int
    start_id: int
    rows: int


@dataclass
class LoadPlan:
    """Parity: src/config/load.ts:2-18."""

    total_rows: int = 100_000
    batch_rows: int = 100_000
    start_id: int = 1
    concurrency: int = 4
    create_base_schema: bool = True
    compact_after_load: bool = True
    checkpoint_dir: str = "checkpoints"
    seed: int = 1
    partitions_per_batch: int | None = None
    progress: bool = True
    extra: dict = field(default_factory=dict)


def make_batches(start_id: int, total_rows: int, batch_rows: int) -> list[Batch]:
    out = []
    i = 0
    pos = start_id
    end = start_id + total_rows
    while pos < end:
        rows = min(batch_rows, end - pos)
        out.append(Batch(i, pos, rows))
        i += 1
        pos += rows
    return out


class Checkpoint:
    """JSON {completedBatches: [...]} per table (bench.ts:62-101).

    ``mark`` is a locked read-modify-write: concurrent batch completions from
    the thread pool must not lose each other's marks (last-writer-wins on the
    whole file would re-run already-loaded batches after a restart)."""

    def __init__(self, directory: str, table: str):
        os.makedirs(directory, exist_ok=True)
        self.path = os.path.join(directory, f"{table}.json")
        self._lock = threading.Lock()

    def completed(self) -> set[int]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return set(json.load(f).get("completedBatches", []))

    def mark(self, index: int) -> None:
        with self._lock:
            done = self.completed()
            done.add(index)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"completedBatches": sorted(done)}, f)
            os.replace(tmp, self.path)


def load_table(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    config: TableConfig,
    table: str,
    plan: LoadPlan,
) -> dict:
    """Load `plan.total_rows` generated rows into `table`, checkpointed.

    Returns {loaded_batches, skipped_batches, rows, seconds}."""
    ckpt = Checkpoint(plan.checkpoint_dir, table)
    batches = make_batches(plan.start_id, plan.total_rows, plan.batch_rows)
    done = ckpt.completed()
    todo = [b for b in batches if b.index not in done]

    t0 = time.time()
    loaded = 0

    def run_batch(b: Batch) -> int:
        df = generate_df(
            spark,
            config,
            start_id=b.start_id,
            num_rows=b.rows,
            seed=plan.seed,
            num_partitions=plan.partitions_per_batch,
        )
        warehouse.append(config.schema, table, df, batch_id=f"batch_{b.index:06d}")
        ckpt.mark(b.index)
        return b.rows

    if plan.concurrency > 1 and len(todo) > 1:
        # C4 Limiter: cap in-flight batches; Spark's scheduler interleaves
        # their tasks (fair enough for local; on a cluster this pipelines
        # write commits against generation).  Each append writes its own
        # generation dir and CAS-commits, so batches never share a
        # committer dir, partitioned or not.
        with ThreadPoolExecutor(max_workers=plan.concurrency) as pool:
            for i, rows in enumerate(pool.map(run_batch, todo)):
                loaded += rows
                _progress(plan, i + 1, len(todo), t0)
    else:
        for i, b in enumerate(todo):
            loaded += run_batch(b)
            _progress(plan, i + 1, len(todo), t0)

    return {
        "loaded_batches": len(todo),
        "skipped_batches": len(batches) - len(todo),
        "rows": loaded,
        "seconds": round(time.time() - t0, 3),
    }


def _progress(plan: LoadPlan, done: int, total: int, t0: float) -> None:
    """C5 ETA reporting (bench.ts:29-50,84-100)."""
    if not plan.progress or total == 0:
        return
    elapsed = time.time() - t0
    rate = done / elapsed if elapsed > 0 else 0.0
    eta = (total - done) / rate if rate > 0 else float("inf")
    pct = 100.0 * done / total
    print(
        f"\r  load {done}/{total} batches ({pct:.0f}%) "
        f"{rate:.2f} b/s eta {eta:.0f}s",
        end="" if done < total else "\n",
        flush=True,
    )
