"""Multi-process CAS commit stress (VERDICT r6 #4): the hard-link
publish + version re-read retry loop, exercised by SEPARATE PROCESSES —
the actual cluster shape for concurrent writers (the existing
``test_cas_commit_stress_with_head_only_retries`` runs 16 threads in one
process; hard-link O_EXCL semantics are per-filesystem, not per-process,
so the contract must hold here identically).

Workers never start Spark: commit_snapshot's write path is pure
filesystem + pyarrow, which is also why this runs in seconds.

Contract: with N processes x M commits each hammering ONE table,
- the version sequence is DENSE (1..N*M, no gaps, no duplicates),
- no commit is lost (every worker's every file is in the final head),
- totals are consistent (rows == files == N*M).
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil

from hands_on_iceberg_compression_spark.sources.warehouse import (
    DeleteTargetsRewrittenError,
    ParquetWarehouse,
)

N_PROCS = 8
N_COMMITS = 50


def _worker(args) -> int:
    root, schema, table, wid, n_commits = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = ParquetWarehouse(None, root)  # no SparkSession — commit path only
    tdir = wh._tdir(schema, table)
    for i in range(n_commits):
        d = os.path.join(tdir, "data", f"w{wid:02d}_b{i:03d}", "g_x")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(
            pa.table({"id": pa.array([wid * 100_000 + i], pa.int64())}), p
        )
        wh.commit_snapshot(schema, table, "append", add_files=[p])
    return wid


def _delete_keys(wh, schema, table, col, keys, attempts=8) -> int:
    """Spark-free merge-on-read delete of the rows whose ``col`` is one
    of ``keys``: prune the manifest to the files whose bounds admit the
    keys, find the victims with the driver-side key scan, and commit ONE
    position-delete file fenced by ``deletes_read_version``.  A delete
    that loses its race to a rewrite of one of its target files rescans
    from the new head.  Returns the number of rows deleted."""
    meta = wh.table_meta(schema, table)
    for attempt in range(attempts):
        version = wh._latest_version(schema, table)
        targets, _total, head = wh._prune_entries(
            schema, table, {col: (min(keys), max(keys))}, version=version
        )
        victims = wh._key_victims(
            schema, table, meta, head, targets, [col], [(k,) for k in keys]
        )
        del_root, del_entries = wh._write_pos_deletes(
            schema, table, victims, head["last_seq"]
        )
        assert len(del_entries) == 1, victims
        try:
            wh.commit_snapshot(
                schema, table, "delete",
                add_files=[],
                add_deletes=del_entries,
                expected_schema_id=head["schema_id"],
                deletes_read_version=version,
            )
        except DeleteTargetsRewrittenError:
            shutil.rmtree(del_root, ignore_errors=True)
            if attempt + 1 == attempts:
                raise
            continue
        return victims.num_rows


def _mor_worker(args) -> int:
    """Appends + position deletes from a Spark-free process: each round
    commits a 10-row file, then deletes 4 of those keys with
    ``_delete_keys`` (the driver-side pyarrow path — zero Spark jobs).
    Per-worker key spaces are disjoint, and a worker's delete always
    commits AFTER its own append (process order + CAS linearization),
    so the expected final state is interleaving-independent: 6
    survivors per round."""
    root, schema, table, wid, n_rounds = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = ParquetWarehouse(None, root)
    tdir = wh._tdir(schema, table)
    for i in range(n_rounds):
        base = wid * 100_000 + i * 10
        d = os.path.join(tdir, "data", f"w{wid:02d}_b{i:03d}", "g_x")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(
            pa.table({"k": pa.array(range(base, base + 10), pa.int64())}), p
        )
        wh.commit_snapshot(schema, table, "append", add_files=[p])
        assert _delete_keys(
            wh, schema, table, "k", list(range(base, base + 4))
        ) == 4
    return wid


def test_multiprocess_mor_deletes_appends_optimize(spark, tmp_path):
    """VERDICT r8 #6: the ``deletes_read_version``/``rewrite_read_version``
    fences and sequence-number delete scoping, exercised under REAL
    multi-process races — 8 workers hammering appends + ``_delete_keys``
    while the parent process runs full ``optimize()`` rewrites against the
    moving head.  Contract: no delete is lost and no deleted row is
    resurrected (the final read equals a serial per-worker replay), the
    version sequence stays dense, and the post-quiesce fold clears the
    delete set."""
    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(spark, root)
    wh.create_table("lab", "mor", "zstd", 1, properties={"snapshots": "true"})

    n_rounds = 12
    ctx = mp.get_context("spawn")
    with ctx.Pool(N_PROCS) as pool:
        async_res = pool.map_async(
            _mor_worker,
            [(root, "lab", "mor", w, n_rounds) for w in range(N_PROCS)],
        )
        # Concurrent compaction against the moving head: the replace
        # commit is fenced by expected_parent (any worker commit between
        # read and publish aborts it) — losing the race is the EXPECTED
        # common case here; what must never happen is a silent success
        # that resurrects deleted rows or erases an append.
        raced = succeeded = 0
        while not async_res.ready():
            try:
                if wh.head_snapshot("lab", "mor") is not None:
                    wh.optimize("lab", "mor")
                    succeeded += 1
            except RuntimeError as e:
                assert "concurrent" in str(e)
                raced += 1
            async_res.wait(0.05)
        assert sorted(async_res.get()) == list(range(N_PROCS))

    # quiesced: one final fold must succeed and clear the delete set
    wh.optimize("lab", "mor")
    assert wh.delete_files_report("lab", "mor") == []

    # serial replay: every worker's appended keys minus its deleted keys
    expected = {
        w * 100_000 + i * 10 + j
        for w in range(N_PROCS)
        for i in range(n_rounds)
        for j in range(4, 10)
    }
    got = {r.k for r in wh.read("lab", "mor").collect()}
    assert got == expected, (
        f"lost/resurrected rows: missing={sorted(expected - got)[:5]} "
        f"extra={sorted(got - expected)[:5]} "
        f"(optimize raced={raced} succeeded={succeeded})"
    )
    # dense version sequence through the contention (worker commits +
    # however many optimize replaces won their race)
    versions = wh._snapshot_versions("lab", "mor")
    assert versions == list(range(1, len(versions) + 1))
    assert len(versions) >= N_PROCS * n_rounds * 2
    hist = wh.history("lab", "mor")
    assert [h["parent"] for h in hist] == [None] + versions[:-1]


def test_multiprocess_cas_commits_dense_and_lossless(tmp_path):
    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(None, root)
    wh.create_table("lab", "mp", "zstd", 1, properties={"snapshots": "true"})

    ctx = mp.get_context("spawn")  # clean interpreters, no inherited state
    with ctx.Pool(N_PROCS) as pool:
        done = pool.map(
            _worker,
            [(root, "lab", "mp", w, N_COMMITS) for w in range(N_PROCS)],
        )
    assert sorted(done) == list(range(N_PROCS))

    total = N_PROCS * N_COMMITS
    # dense version sequence: no lost commit, no duplicate version
    versions = wh._snapshot_versions("lab", "mp")
    assert versions == list(range(1, total + 1))
    # every file of every worker is live in the final head, exactly once
    head = wh.head_snapshot("lab", "mp")
    assert head["version"] == total
    paths = [e["path"] for e in head["files"]]
    assert len(paths) == total and len(set(paths)) == total
    expected = {
        f"w{w:02d}_b{i:03d}"
        for w in range(N_PROCS)
        for i in range(N_COMMITS)
    }
    assert {p.split(os.sep)[1] for p in paths} == expected
    assert head["total_rows"] == total
    # the head's segment list is merge-bounded despite 400 delta commits
    assert len(head["segments"]) <= ParquetWarehouse.SEG_MERGE_MIN_COUNT + 1
    # lineage: parents chain correctly through the contention
    hist = wh.history("lab", "mp")
    assert [h["version"] for h in hist] == versions
    assert [h["parent"] for h in hist] == [None] + versions[:-1]
    # time travel to a mid-contention version still materializes
    mid = wh._load_snapshot("lab", "mp", total // 2)
    assert len(mid["files"]) == total // 2
