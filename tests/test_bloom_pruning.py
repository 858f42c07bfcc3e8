"""Per-file key BLOOM filters in manifests (VERDICT r12 #1) — puffin-style
membership pruning for equality/IN predicates on high-cardinality keys,
the case [min, max] envelopes provably cannot touch (PERF.md r12: envelope
pruning bought ZERO for uniformly distributed CDC keys, because every
file's bounds span the whole keyspace).

Design under test (sources/warehouse.py):
- opt-in via the ``bloom_columns`` table property; filters are built at
  the single fresh-entry choke point every writer passes through, so
  appends, CoW rewrites, optimize and merge outputs all carry them;
- the BITS live in sidecar blobs (``<table>/blooms/bl_*.bin``) — manifest
  entries record only the path (inlining a 100k-key filter would blow up
  the measured 2-3 KB/commit head IO);
- ``_entry_excluded`` consults them for membership-shaped specs (discrete
  value lists, point ranges), so prune_files / read_pruned / read_where /
  delete_where victim narrowing / merge-on-read key narrowing all
  inherit the skipping;
- conservative everywhere: absent property, absent blob, unsupported
  type, or mismatched probe type keep the file;
- GC: abort unlinks a commit's own blobs; expiry and the age-gated
  orphan sweep collect unreferenced ones (exactness is pinned by
  test_segment_model's expire op).
"""

from __future__ import annotations

import os

import pytest

from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
)

N_FILES = 8
ROWS_PER_FILE = 500


def _mk_uniform(spark, tmp_path, name, props=None, key="bigint"):
    """N_FILES appends with INTERLEAVED keys: file b holds ids
    {b, b+N, b+2N, ...} so every file's [min, max] spans essentially the
    whole keyspace — the uniform-key shape where envelope pruning keeps
    everything and only membership can discriminate."""
    wh = ParquetWarehouse(spark, str(tmp_path / f"wh_{name}"))
    p = {"snapshots": "true"}
    p.update(props or {})
    wh.create_table("lab", name, "zstd", 1, properties=p)
    for b in range(N_FILES):
        ids = [b + j * N_FILES for j in range(ROWS_PER_FILE)]
        rows = [(i, f"k{i:06d}", i % 7) for i in ids]
        wh.append(
            "lab", name,
            spark.createDataFrame(
                rows, f"id {key}, sk string, grp int"
            ).coalesce(1),
            batch_id=f"b{b}",
        )
    return wh


def test_uniform_keys_membership_prunes_where_envelope_cannot(
    spark, tmp_path
):
    wh = _mk_uniform(
        spark, tmp_path, "u", props={"bloom_columns": "id,sk"}
    )
    # keys 3 and 11 both live in file b=3 (3 % 8 == 11 % 8 == 3)
    probe = [3, 11]
    kept, total = wh.prune_files("lab", "u", {"id": probe})
    assert total == N_FILES
    assert len(kept) == 1  # membership proves 7 of 8 files irrelevant
    # the same probe as a RANGE envelope keeps everything — the r12
    # measured blind spot this feature exists to close
    kept_env, _ = wh.prune_files("lab", "u", {"id": (3, 11)})
    assert len(kept_env) == N_FILES
    # pruning is an optimization, never a filter: pruned+filter == full
    got = sorted(
        r["id"]
        for r in wh.read_pruned("lab", "u", {"id": probe})
        .filter("id in (3, 11)")
        .collect()
    )
    assert got == probe
    # DuckDB cross-check: the pruned+filtered read equals a second
    # engine's scan of ALL live files with the same predicate
    import duckdb

    all_files, _ = wh.prune_files("lab", "u", {})
    want = [
        r[0]
        for r in duckdb.connect()
        .execute(
            "SELECT id FROM read_parquet($f) WHERE id IN (3, 11) ORDER BY id",
            {"f": all_files},
        )
        .fetchall()
    ]
    assert got == want == probe
    # string keys prune identically (crc32 algo path)
    kept_s, _ = wh.prune_files("lab", "u", {"sk": ["k000003"]})
    assert len(kept_s) == 1
    # point-range spec shape (v, v) consults the bloom too
    kept_p, _ = wh.prune_files("lab", "u", {"id": (11, 11)})
    assert len(kept_p) == 1
    # absent key INSIDE the bounds envelope: bounds keep every file,
    # the bloom proves absence everywhere (modulo FPR — allow <= 1)
    missing = 4001  # odd ids above 4000 were never written
    kept_a, _ = wh.prune_files("lab", "u", {"id": [missing]})
    assert len(kept_a) <= 1


def test_conservative_paths_and_exactness(spark, tmp_path):
    # no property -> no blooms recorded, membership spec keeps all files
    wh0 = _mk_uniform(spark, tmp_path, "off")
    kept, total = wh0.prune_files("lab", "off", {"id": [3, 11]})
    assert len(kept) == total == N_FILES
    head = wh0.head_snapshot("lab", "off")
    assert all("bloom" not in e for e in head["files"])

    wh = _mk_uniform(spark, tmp_path, "on", props={"bloom_columns": "id"})
    # probe value type != written column type: bloom skipped, kept
    kept, _ = wh.prune_files("lab", "on", {"id": ["3"]})
    assert len(kept) == N_FILES
    # NULL in the list: not bloom-provable, kept (bounds may still act)
    kept, _ = wh.prune_files("lab", "on", {"id": [3, None]})
    assert len(kept) == N_FILES
    # open/real ranges never consult blooms (bounds still prune: files
    # whose min exceeds the endpoint are legitimately excluded)
    wh._bloom_cache.clear()
    loads0 = wh._bloom_loads
    kept, _ = wh.prune_files("lab", "on", {"id": (None, 3)})
    assert len(kept) == 4 and wh._bloom_loads == loads0
    # blob file missing on disk: conservative keep (bounds still prune
    # the 4 files whose min exceeds 3), never a crash
    bdir = os.path.join(wh._tdir("lab", "on"), "blooms")
    for fn in os.listdir(bdir):
        os.unlink(os.path.join(bdir, fn))
    wh._bloom_cache.clear()
    kept, _ = wh.prune_files("lab", "on", {"id": [3]})
    assert len(kept) == 4


def test_fpr_empirical_and_empty_column():
    """Direct unit on the blob builder/prober: 100k int keys, 20k absent
    probes -> measured FPR must stay near the designed ~7e-4 (16
    bits/key, k=7); an all-NULL column yields an empty filter that
    excludes every probe."""
    import numpy as np
    import pyarrow as pa

    wh = ParquetWarehouse.__new__(ParquetWarehouse)
    wh._bloom_cache, wh._bloom_loads = {}, 0
    present = pa.chunked_array([pa.array(range(0, 200_000, 2), pa.int64())])
    blob = wh._build_bloom_blob(present)
    import struct

    algo, k, m = struct.unpack("<BBI", blob[4:10])
    bits = np.frombuffer(blob[10:], dtype=np.uint8)
    assert algo == wh._BLOOM_ALGO_INT and k == wh._BLOOM_K
    assert m >= 100_000 * wh._BLOOM_BITS_PER_KEY

    def contains(vals):
        h1, h2, _ = wh._bloom_probe_hashes(list(vals))
        pos = wh._bloom_positions(h1, h2, k, m)
        hit = (bits[pos >> np.uint64(3)] >> (pos & np.uint64(7))) & 1
        return hit.all(axis=1)

    assert contains(range(0, 1000, 2)).all()  # zero false negatives
    fp = contains(range(1, 40_001, 2)).mean()  # 20k absent odd keys
    assert fp < 3e-3, fp
    # all-null column -> empty filter -> every probe excluded (correct:
    # SQL equality never matches NULL)
    empty = wh._build_bloom_blob(
        pa.chunked_array([pa.array([None, None], pa.int64())])
    )
    algo_e, k_e, m_e = struct.unpack("<BBI", empty[4:10])
    assert not np.frombuffer(empty[10:], dtype=np.uint8).any()
    # unsupported types record nothing
    assert wh._build_bloom_blob(
        pa.chunked_array([pa.array([1.5], pa.float64())])
    ) is None


def test_rename_resolution_and_rewrite_rebuild(spark, tmp_path):
    """Blooms are keyed by each file's WRITE-TIME column name (same as
    bounds): after a rename, pruning under the new name must keep
    resolving through the field-id mapping; an optimize() rewrite
    re-derives filters for its output files under the new name."""
    wh = _mk_uniform(spark, tmp_path, "rn", props={"bloom_columns": "id"})
    wh.rename_column("lab", "rn", "id", "doc_id")
    kept, total = wh.prune_files("lab", "rn", {"doc_id": [3, 11]})
    assert total == N_FILES and len(kept) == 1
    got = sorted(
        r["doc_id"]
        for r in wh.read_pruned("lab", "rn", {"doc_id": [3, 11]})
        .filter("doc_id in (3, 11)")
        .collect()
    )
    assert got == [3, 11]
    # rewrite: output files carry fresh blooms under the current name
    wh.optimize("lab", "rn")
    head = wh.head_snapshot("lab", "rn")
    assert all("doc_id" in e.get("bloom", {}) for e in head["files"])
    for e in head["files"]:
        assert os.path.isfile(
            os.path.join(wh._tdir("lab", "rn"), e["bloom"]["doc_id"])
        )
    # compacted table: a point probe still reads exactly
    got = [
        r["doc_id"]
        for r in wh.read_pruned("lab", "rn", {"doc_id": [11]})
        .filter("doc_id = 11")
        .collect()
    ]
    assert got == [11]


def test_delete_where_narrowing_uses_blooms(spark, tmp_path, monkeypatch):
    """A merge-on-read ``delete_where`` on an IN list prunes its victims
    with the EXACT discrete key set — with blooms on a uniform-key table
    it prunes files the bounds envelope cannot, and the read stays
    exact."""
    kept = []
    real = ParquetWarehouse.prune_files

    def spy(self, *a, **k):
        out = real(self, *a, **k)
        kept.append(len(out[0]))
        return out

    monkeypatch.setattr(ParquetWarehouse, "prune_files", spy)
    wh = _mk_uniform(spark, tmp_path, "dk", props={"bloom_columns": "id"})
    wh.delete_where("lab", "dk", "id IN (3, 11)", mode="merge-on-read")
    assert kept == [1]  # membership-pruned to the one file holding both
    ids = {r["id"] for r in wh.read("lab", "dk").collect()}
    assert 3 not in ids and 11 not in ids
    assert len(ids) == N_FILES * ROWS_PER_FILE - 2
    # the blind-spot A/B: same table without blooms prunes nothing
    wh0 = _mk_uniform(spark, tmp_path, "dk0")
    wh0.delete_where("lab", "dk0", "id IN (3, 11)", mode="merge-on-read")
    assert kept[-1] == N_FILES


def test_abort_gc_unlinks_commit_blobs(spark, tmp_path):
    """A commit that aborts (schema fence) must unlink the bloom blobs
    its fresh entries wrote — same contract as its segments."""
    wh = _mk_uniform(spark, tmp_path, "ab", props={"bloom_columns": "id"})
    bdir = os.path.join(wh._tdir("lab", "ab"), "blooms")
    before = set(os.listdir(bdir))
    # write a real data file, then force the commit to abort via the
    # schema fence (expected_schema_id mismatch)
    tdir = wh._tdir("lab", "ab")
    d = os.path.join(tdir, "data", "zz", "g_abort")
    os.makedirs(d)
    p = os.path.join(d, "f0.parquet")
    spark.createDataFrame([(999999, "x", 0)], "id bigint, sk string, grp int")\
        .coalesce(1).write.mode("overwrite").parquet(d + "_tmp")
    import glob
    import shutil

    shutil.move(glob.glob(d + "_tmp/part-*.parquet")[0], p)
    shutil.rmtree(d + "_tmp")
    with pytest.raises(RuntimeError, match="schema"):
        wh.commit_snapshot(
            "lab", "ab", "append", add_files=[p], expected_schema_id=999
        )
    assert set(os.listdir(bdir)) == before  # the aborted blob is gone


def test_expiry_gc_collects_dead_blobs(spark, tmp_path):
    wh = _mk_uniform(spark, tmp_path, "gc", props={"bloom_columns": "id"})
    bdir = os.path.join(wh._tdir("lab", "gc"), "blooms")
    assert len(os.listdir(bdir)) == N_FILES
    wh.optimize("lab", "gc")  # rewrite: new blobs, old entries superseded
    n_after_opt = len(os.listdir(bdir))
    assert n_after_opt > N_FILES  # old blobs retained for time travel
    wh.expire_snapshots("lab", "gc", keep_last=1)
    live = {
        e["bloom"]["id"].split(os.sep)[-1]
        for e in wh.head_snapshot("lab", "gc")["files"]
    }
    assert set(os.listdir(bdir)) == live  # exactly the live head's blobs
    # reads still exact after GC
    wh._bloom_cache.clear()
    got = [
        r["id"]
        for r in wh.read_pruned("lab", "gc", {"id": [11]})
        .filter("id = 11")
        .collect()
    ]
    assert got == [11]


def test_orphan_sweep_age_gates_blobs(spark, tmp_path):
    wh = _mk_uniform(spark, tmp_path, "or", props={"bloom_columns": "id"})
    bdir = os.path.join(wh._tdir("lab", "or"), "blooms")
    orphan = os.path.join(bdir, "bl_orphanxxx.bin")
    with open(orphan, "wb") as f:
        f.write(b"BLM1junk")
    # young orphan survives (in-flight commits write blobs pre-CAS)
    wh.remove_orphan_files("lab", "or", older_than_s=3600)
    assert os.path.isfile(orphan)
    # aged orphan is collected; referenced blobs never are
    removed = wh.remove_orphan_files("lab", "or", older_than_s=0)
    assert removed == 1 and not os.path.isfile(orphan)
    assert len(os.listdir(bdir)) == N_FILES


def test_corrupt_non_power_of_two_header_keeps_file(spark, tmp_path):
    """ADVICE r13 (low): _bloom_positions masks probe positions with
    m-1, so a corrupt-but-length-consistent header with a
    NON-power-of-two m would probe WRONG positions and could falsely
    exclude a live file — the one corruption shape the conservative
    keep-on-absence contract didn't cover.  Such blobs must parse to
    None (file kept)."""
    import struct

    wh = _mk_uniform(spark, tmp_path, "po2", props={"bloom_columns": "id"})
    head = wh.head_snapshot("lab", "po2")
    # overwrite every blob with a length-consistent m=24 header (3 bytes
    # of bits) — all-ones bits so a WRONG-position probe would happily
    # "hit" and a masked probe could just as easily miss
    for e in head["files"]:
        blob = (
            wh._BLOOM_MAGIC
            + struct.pack("<BBI", wh._BLOOM_ALGO_INT, wh._BLOOM_K, 24)
            + b"\xff\xff\xff"
        )
        with open(os.path.join(wh._tdir("lab", "po2"), e["bloom"]["id"]), "wb") as f:
            f.write(blob)
    wh._bloom_cache.clear()
    # corrupt header parses to None — file kept as if it had no filter
    assert wh._load_bloom("lab", "po2", head["files"][0]["bloom"]["id"]) is None
    kept, total = wh.prune_files("lab", "po2", {"id": [3]})
    # bounds still prune (files 0-3 have min <= 3 <= max); the corrupt
    # bloom must exclude NOTHING further — before the fix a masked probe
    # could miss and falsely drop the file that holds id=3
    assert total == N_FILES and len(kept) == 4
    got = [
        r["id"]
        for r in wh.read_pruned("lab", "po2", {"id": [3]})
        .filter("id = 3").collect()
    ]
    assert got == [3]


def test_stale_bloom_property_heals_after_rename_crash(spark, tmp_path):
    """ADVICE r13 (low): rename_column's bloom_columns follow-up is a
    second non-CAS write — simulate the crash between the schema commit
    and the property update by restoring the OLD property value.  New
    files must STILL get filters: commit_snapshot resolves stale names
    through the schema history by field id."""
    wh = _mk_uniform(spark, tmp_path, "st", props={"bloom_columns": "id"})
    wh.rename_column("lab", "st", "id", "doc_id")
    # simulate the lost follow-up: property back to the pre-rename name
    wh.alter_table_properties("lab", "st", bloom_columns="id")
    wh.append(
        "lab", "st",
        spark.createDataFrame(
            [(900001, "k900001", 0)], "doc_id bigint, sk string, grp int"
        ).coalesce(1),
        batch_id="post_rename",
    )
    head = wh.head_snapshot("lab", "st")
    fresh = [e for e in head["files"] if e["rows"] == 1]
    assert fresh and all("doc_id" in e.get("bloom", {}) for e in fresh)
    # and the filter actually prunes under the current name
    kept, total = wh.prune_files("lab", "st", {"doc_id": [900001]})
    assert len(kept) < total
    got = [
        r["doc_id"]
        for r in wh.read_pruned("lab", "st", {"doc_id": [900001]})
        .filter("doc_id = 900001").collect()
    ]
    assert got == [900001]


def test_branch_rename_leaves_shared_property_and_still_filters(spark, tmp_path):
    """ADVICE r13 (low): a branch-scoped rename must NOT rewrite the
    SHARED bloom_columns property (main still has the old name).  Both
    refs keep building filters: main matches the property directly,
    the branch resolves the stale name through its own schema history."""
    wh = _mk_uniform(spark, tmp_path, "br", props={"bloom_columns": "id"})
    wh.create_branch("lab", "br", "feature")
    wh.rename_column("lab", "br", "id", "doc_id", branch="feature")
    assert wh.table_meta("lab", "br").properties["bloom_columns"] == "id"
    # main append: property name matches main's schema directly
    wh.append(
        "lab", "br",
        spark.createDataFrame(
            [(910001, "a", 0)], "id bigint, sk string, grp int"
        ).coalesce(1),
        batch_id="main_post",
    )
    main_fresh = [
        e for e in wh.head_snapshot("lab", "br")["files"] if e["rows"] == 1
    ]
    assert main_fresh and all("id" in e.get("bloom", {}) for e in main_fresh)
    # branch append: stale property name resolves to the branch's new name
    wh.append(
        "lab", "br",
        spark.createDataFrame(
            [(920001, "b", 0)], "doc_id bigint, sk string, grp int"
        ).coalesce(1),
        batch_id="branch_post",
        branch="feature",
    )
    br_fresh = [
        e
        for e in wh.head_snapshot("lab", "br", branch="feature")["files"]
        if e["rows"] == 1
    ]
    assert br_fresh and all("doc_id" in e.get("bloom", {}) for e in br_fresh)


def test_ndv_estimates_per_file_and_table_union(spark, tmp_path):
    """r14: per-file NDV derived from the bloom's fill level (the
    zero-extra-IO analog of puffin theta NDV blobs) and the manifest-only
    table-level `distinct_estimate` — exactness pinned: per-file within
    10% of truth, equal-geometry union within 15% (high-fill inversion
    is noisier), bounds always bracket, saturated/mixed geometries
    degrade to bounds-only, uncovered columns report coverage honestly."""
    wh = _mk_uniform(
        spark, tmp_path, "nd", props={"bloom_columns": "id,grp"}
    )
    head = wh.head_snapshot("lab", "nd")
    for e in head["files"]:
        # each file holds 500 distinct ids and 7 distinct grp values
        assert abs(e["ndv"]["id"] - ROWS_PER_FILE) / ROWS_PER_FILE < 0.10
        assert e["ndv"]["grp"] == 7
    est_id = wh.distinct_estimate("lab", "nd", "id")
    truth = N_FILES * ROWS_PER_FILE
    assert est_id["files_covered"] == est_id["files_total"] == N_FILES
    assert est_id["lower"] <= truth * 1.1 and est_id["upper"] >= truth * 0.9
    assert est_id["est"] is not None
    assert abs(est_id["est"] - truth) / truth < 0.15
    est_grp = wh.distinct_estimate("lab", "nd", "grp")
    assert est_grp["est"] == 7  # tiny fill: exact
    # column with no filters: coverage reported, nothing guessed
    est_sk = wh.distinct_estimate("lab", "nd", "sk")
    assert est_sk["files_covered"] == 0 and est_sk["est"] is None
    # mixed geometry (a smaller file gets a smaller m): union estimate
    # off, bounds still valid
    wh.append(
        "lab", "nd",
        spark.createDataFrame(
            [(10_000 + i, f"x{i}", 0) for i in range(100)],
            "id bigint, sk string, grp int",
        ).coalesce(1),
        batch_id="small",
    )
    est2 = wh.distinct_estimate("lab", "nd", "id")
    assert est2["files_covered"] == N_FILES + 1
    assert est2["est"] is None
    assert est2["lower"] >= 400 and est2["upper"] >= truth + 80


def test_ndv_accuracy_under_zipfian_skew(spark, tmp_path):
    """r15 (VERDICT r14 #6): the NDV accuracy pins were uniform-key
    only, but CDC keys are Zipfian in practice.  The fill-derived NDV
    counts DISTINCT keys per file (repeats re-set the same bits), so
    skew must NOT degrade per-file accuracy; across files the hot keys
    live in EVERY file, so the per-file sum (upper bound) is loose BY
    DESIGN while the equal-geometry union stays tight — pinned here."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh_zipf"))
    wh.create_table(
        "lab", "z", "zstd", 1,
        properties={"snapshots": "true", "bloom_columns": "id"},
    )
    # Zipf-ish: 95% of rows hit 25 hot keys, the rest are unique cold
    # keys; every file carries the full hot head
    per_file_truth = []
    all_keys: set[int] = set()
    for b in range(N_FILES):
        rows = []
        for j in range(ROWS_PER_FILE):
            if j < 25:
                k = 1_000_000 + b * ROWS_PER_FILE + j  # unique cold tail
            else:
                k = j % 25  # hot head, repeated heavily
            rows.append((k, f"s{k}", k % 7))
        per_file_truth.append(len({r[0] for r in rows}))
        all_keys |= {r[0] for r in rows}
        wh.append(
            "lab", "z",
            spark.createDataFrame(
                rows, "id bigint, sk string, grp int"
            ).coalesce(1),
            batch_id=f"b{b}",
        )
    head = wh.head_snapshot("lab", "z")
    for e, truth in zip(head["files"], per_file_truth):
        assert abs(e["ndv"]["id"] - truth) / truth < 0.10, (
            e["ndv"]["id"], truth
        )
    est = wh.distinct_estimate("lab", "z", "id")
    n = len(all_keys)
    assert est["files_covered"] == N_FILES
    # bounds bracket the truth; the upper bound is LOOSE under skew
    # (hot keys double-counted per file) — that looseness is the
    # documented semantics, not an error
    assert est["lower"] <= n * 1.1
    assert est["upper"] >= n * 0.9
    assert est["upper"] > n * 1.5  # provably loose: skew double-counts
    # equal geometry -> union estimate stays tight despite skew
    assert est["est"] is not None
    assert abs(est["est"] - n) / n < 0.15, (est["est"], n)


def test_membership_skip_estimate_drives_merge_spec(spark, tmp_path):
    """r15 (VERDICT r14 #6): per-file NDV wired into a real decision —
    merge_into's discovery attempts exact-membership pruning only when
    the manifest predicts it can skip files.  Pinned: (a) the estimate
    math at both regimes (B << F-ish keys/file -> attempt; B >> table
    NDV/file -> envelope), (b) the spec SHAPE passed to read_pruned
    switches accordingly, (c) results identical either way."""
    wh = _mk_uniform(
        spark, tmp_path, "dec", props={"bloom_columns": "id"}
    )
    files = wh.head_snapshot("lab", "dec")["files"]
    # uniform interleave: each file holds ~1/N_FILES of the keyspace
    small = wh._membership_skip_estimate(files, ["id"], 3)
    big = wh._membership_skip_estimate(files, ["id"], 2000)
    assert small is not None and small > 0.5  # 3 keys miss most files
    assert big is not None and big < 0.01  # 2000 keys hit every file
    # no coverage -> None (status quo)
    assert wh._membership_skip_estimate(
        [{"path": "x"}] * 8, ["id"], 3
    ) is None

    specs: list[dict] = []
    real_rp = wh.read_pruned

    def spy_rp(schema, table, ranges, **kw):
        specs.append(ranges)
        return real_rp(schema, table, ranges, **kw)

    wh.read_pruned = spy_rp
    try:
        # big batch (all 4000 keys live): prediction says keep-all ->
        # envelope tuple spec, NOT a discrete list
        src_big = spark.range(1200).selectExpr(
            "cast(id * 3 as bigint) as id",
            "concat('u', id) as sk",
            "cast(id % 7 as int) as grp",
        )
        out = wh.merge_into(
            "lab", "dec", src_big, ["id"], mode="merge-on-read"
        )
        assert out["upserts"] == 1200
        assert specs and isinstance(specs[-1]["id"], tuple)
        # tiny batch: membership predicted to skip -> discrete list
        src_small = spark.createDataFrame(
            [(3, "x3", 3 % 7), (11, "x11", 4)],
            "id bigint, sk string, grp int",
        )
        out = wh.merge_into(
            "lab", "dec", src_small, ["id"], mode="merge-on-read"
        )
        assert out["upserts"] == 2
        assert isinstance(specs[-1]["id"], list)
    finally:
        wh.read_pruned = real_rp
    # convergence: both routes landed exactly
    got = {
        r["id"]: r["sk"]
        for r in wh.read("lab", "dec").collect()
    }
    assert got[3] == "x3" and got[11] == "x11"
    assert len(got) == N_FILES * ROWS_PER_FILE + sum(
        1 for i in range(1200) if i * 3 >= N_FILES * ROWS_PER_FILE
    )


def test_dropped_bloom_column_degrades_cleanly(spark, tmp_path):
    """A bloom_columns entry whose field was DROPPED must neither crash
    the commit nor resurrect: resolution passes the unresolvable name
    through, it matches no file column, and remaining configured columns
    keep getting filters."""
    wh = _mk_uniform(
        spark, tmp_path, "dc", props={"bloom_columns": "id,grp"}
    )
    wh.drop_column("lab", "dc", "grp")
    wh.append(
        "lab", "dc",
        spark.createDataFrame(
            [(990001, "z")], "id bigint, sk string"
        ).coalesce(1),
        batch_id="post_drop",
    )
    fresh = [
        e for e in wh.head_snapshot("lab", "dc")["files"] if e["rows"] == 1
    ]
    assert fresh
    for e in fresh:
        assert "id" in e.get("bloom", {})  # surviving column still filters
        assert "grp" not in e.get("bloom", {})
    kept, total = wh.prune_files("lab", "dc", {"id": [990001]})
    assert len(kept) < total
