"""Manifest column bounds + planning-time file pruning (round-4 C8
deepening): snapshot manifests record per-file ``[lower, upper]`` column
bounds lifted from parquet footers — Iceberg's lower_bounds/upper_bounds —
and ``prune_files``/``read_pruned`` skip non-qualifying files WITHOUT
opening a footer, the way Iceberg plans a scan from manifests alone.
Append commits reuse the parent manifest's entries for unchanged files, so
commit cost is O(new files), not O(table).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.functions.generators import generate_df
from hands_on_iceberg_compression_spark.schema.reference_schemas import (
    narrow_example_config,
)
from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


@pytest.fixture()
def log_table(spark, tmp_path):
    cfg = narrow_example_config()
    cfg.partitioning = []
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "boundstab"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    # disjoint id ranges per batch -> non-overlapping bounds to prune on
    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 300, seed=7, num_partitions=1), batch_id="b1")
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=7, num_partitions=1), batch_id="b2")
    return cfg, wh, table


def test_manifest_records_column_bounds(log_table):
    cfg, wh, table = log_table
    head = wh.snapshots(cfg.schema, table)[-1]
    assert len(head["files"]) == 2
    by_batch = {e["path"].split("/")[1]: e for e in head["files"]}
    b1, b2 = by_batch["b1"], by_batch["b2"]
    assert b1["bounds"]["id"] == [1, 300]
    assert b2["bounds"]["id"] == [301, 500]
    # strings and timestamps carry bounds too; arrays (nested leaves) don't
    assert "status" in b1["bounds"] and "created_at" in b1["bounds"]
    assert isinstance(b1["bounds"]["created_at"][0], str)  # ISO-8601
    assert "tags" not in b1["bounds"]
    lo, hi = b1["bounds"]["amount"]
    assert 0 <= lo <= hi <= 10000


def test_append_commit_reuses_parent_entries(log_table, monkeypatch):
    """The third append must stat only ITS files: the b1/b2 entries carry
    over verbatim (Iceberg manifest reuse) and no footer of theirs is
    re-opened."""
    import pyarrow.parquet as pq_mod

    cfg, wh, table = log_table
    v2 = wh.snapshots(cfg.schema, table)[-1]
    real = pq_mod.ParquetFile
    opened: list[str] = []

    def counting(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "ParquetFile", counting)
    wh.append(
        cfg.schema,
        table,
        generate_df(wh.spark, cfg, 501, 100, seed=7, num_partitions=1),
        batch_id="b3",
    )
    v3 = wh.snapshots(cfg.schema, table)[-1]
    assert len(v3["files"]) == 3
    assert all("/b3/" in p for p in opened), opened  # only the new generation
    carried = {e["path"]: e for e in v3["files"] if "/b3/" not in e["path"]}
    assert carried == {e["path"]: e for e in v2["files"]}


def test_prune_files_skips_non_qualifying(log_table):
    cfg, wh, table = log_table
    kept, total = wh.prune_files(cfg.schema, table, {"id": (1, 100)})
    assert total == 2 and len(kept) == 1 and "/b1/" in kept[0]
    kept, _ = wh.prune_files(cfg.schema, table, {"id": (350, 350)})  # equality
    assert len(kept) == 1 and "/b2/" in kept[0]
    kept, _ = wh.prune_files(cfg.schema, table, {"id": (None, 250)})  # open end
    assert len(kept) == 1
    kept, _ = wh.prune_files(cfg.schema, table, {"id": (250, 350)})  # straddles
    assert len(kept) == 2
    # a column without recorded bounds never prunes (conservative)
    kept, _ = wh.prune_files(cfg.schema, table, {"tags": (0, 0)})
    assert len(kept) == 2


def test_read_pruned_equals_full_read_plus_filter(log_table):
    cfg, wh, table = log_table
    pred = F.col("id").between(1, 100)
    full = {r.id for r in wh.read(cfg.schema, table).filter(pred).collect()}
    pruned = {
        r.id
        for r in wh.read_pruned(cfg.schema, table, {"id": (1, 100)})
        .filter(pred)
        .collect()
    }
    assert pruned == full and len(full) == 100
    # out-of-domain range: zero files survive, schema-stable empty frame
    empty = wh.read_pruned(cfg.schema, table, {"id": (10_000, 20_000)})
    assert empty.count() == 0
    assert empty.schema == wh.read(cfg.schema, table).schema


def test_pruning_survives_optimize_and_merge(log_table):
    """Replace commits recompute bounds for rewritten files; pruning keeps
    working against the new generation."""
    cfg, wh, table = log_table
    wh.optimize(cfg.schema, table)
    head = wh.snapshots(cfg.schema, table)[-1]
    assert head["operation"] == "optimize"
    assert all("bounds" in e and "id" in e["bounds"] for e in head["files"])
    kept, total = wh.prune_files(cfg.schema, table, {"id": (1, 100)})
    assert kept  # compacted layout may merge ranges, but never loses rows
    pred = F.col("id") <= 100
    full = {r.id for r in wh.read(cfg.schema, table).filter(pred).collect()}
    got = {
        r.id
        for r in wh.read_pruned(cfg.schema, table, {"id": (None, 100)})
        .filter(pred)
        .collect()
    }
    assert got == full


def test_string_bound_truncation_is_order_safe():
    """Iceberg truncate(32) semantics: lower truncates, upper truncates AND
    increments so it stays an upper bound for everything it summarizes."""
    t_lo = ParquetWarehouse._trunc_lower
    t_up = ParquetWarehouse._trunc_upper
    long_v = "m" * 40
    assert t_lo(long_v) == "m" * 32 and t_lo(long_v) <= long_v
    up = t_up(long_v)
    assert len(up) == 32 and up > long_v
    assert t_up("short") == "short" and t_lo("short") == "short"
    assert t_up(123) == 123 and t_lo(1.5) == 1.5


def test_bounds_compose_with_partitioned_log_tables(spark, tmp_path):
    """Partitioned log tables carry BOTH the partition tuple and column
    bounds per file, and read_pruned's per-generation basePath union still
    parses the hive dirs of surviving files."""
    cfg = narrow_example_config()  # days(created_at) partitioning
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "boundspart"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfg.partitioning,
    )
    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 300, seed=11, num_partitions=1), batch_id="b1")
    wh.append(cfg.schema, table, generate_df(spark, cfg, 301, 200, seed=11, num_partitions=1), batch_id="b2")
    head = wh.snapshots(cfg.schema, table)[-1]
    assert all(
        "partitions" in e and "bounds" in e and "id" in e["bounds"]
        for e in head["files"]
    )
    pred = F.col("id") <= 300
    full = {r.id for r in wh.read(cfg.schema, table).filter(pred).collect()}
    pruned_df = wh.read_pruned(cfg.schema, table, {"id": (None, 300)})
    assert "created_at_day" in pruned_df.columns  # hive dirs still parsed
    got = {r.id for r in pruned_df.filter(pred).collect()}
    assert got == full and len(full) == 300
    kept, total = wh.prune_files(cfg.schema, table, {"id": (None, 300)})
    assert len(kept) < total  # the b2-only files were skipped


def test_timestamp_range_pruning_via_iso_bounds(log_table):
    """Timestamp bounds are stored as ISO-8601 strings; a datetime range
    passed to prune_files compares correctly against them and pruned+filter
    equals full+filter."""
    import datetime

    cfg, wh, table = log_table
    head = wh.snapshots(cfg.schema, table)[-1]
    los = sorted(e["bounds"]["created_at"][0] for e in head["files"])
    mid = datetime.datetime.fromisoformat(los[-1])  # below: prunes earlier-only files iff disjoint
    kept, total = wh.prune_files(cfg.schema, table, {"created_at": (mid, None)})
    assert 1 <= len(kept) <= total
    pred = F.col("created_at") >= F.lit(mid)
    full = {r.id for r in wh.read(cfg.schema, table).filter(pred).collect()}
    got = {
        r.id
        for r in wh.read_pruned(cfg.schema, table, {"created_at": (mid, None)})
        .filter(pred)
        .collect()
    }
    assert got == full


def test_partition_value_pruning(spark, tmp_path):
    """A range on a PARTITION column prunes on the manifest's recorded
    partition tuple (Iceberg partition pruning from manifests) — exact
    equality and ISO-day string ranges both work, and results equal the
    full read + filter."""
    cfg = narrow_example_config()  # days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "partprune"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfg.partitioning,
    )
    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 400, seed=19, num_partitions=1), batch_id="b1")
    full = wh.read(cfg.schema, table)
    days = sorted(r[0] for r in full.select("created_at_day").distinct().collect())
    assert len(days) >= 3
    target = str(days[0])
    kept, total = wh.prune_files(cfg.schema, table, {"created_at_day": (target, target)})
    assert 1 <= len(kept) < total
    expect = {r.id for r in full.filter(F.col("created_at_day") == target).collect()}
    got = {
        r.id
        for r in wh.read_pruned(cfg.schema, table, {"created_at_day": (target, target)})
        .filter(F.col("created_at_day") == target)
        .collect()
    }
    assert got == expect and expect
    # ISO-day strings order lexicographically == chronologically
    lo, hi = str(days[0]), str(days[1])
    kept2, _ = wh.prune_files(cfg.schema, table, {"created_at_day": (lo, hi)})
    assert len(kept) <= len(kept2) < total


def test_prune_files_at_pinned_version(log_table):
    """version= prunes against a historical manifest: after optimize
    rewrites the layout, pruning at the pre-optimize version still sees the
    original per-batch bounds."""
    cfg, wh, table = log_table
    v_before = wh.snapshots(cfg.schema, table)[-1]["version"]
    wh.optimize(cfg.schema, table)
    kept, total = wh.prune_files(
        cfg.schema, table, {"id": (1, 100)}, version=v_before
    )
    assert total == 2 and len(kept) == 1 and "/b1/" in kept[0]
    got = {
        r.id
        for r in wh.read_pruned(cfg.schema, table, {"id": (1, 100)}, version=v_before)
        .filter(F.col("id") <= 100)
        .collect()
    }
    assert got == set(range(1, 101))


def test_type_mismatched_range_is_conservative(log_table, spark, tmp_path):
    """An endpoint whose type doesn't match the recorded value (int range
    against a string partition value, string range against long bounds)
    keeps every file instead of raising or over-pruning."""
    cfg, wh, table = log_table
    kept, total = wh.prune_files(cfg.schema, table, {"id": ("a", "z")})
    assert len(kept) == total
    cfgp = narrow_example_config()
    whp = ParquetWarehouse(spark, str(tmp_path / "whp"))
    whp.create_table(
        cfgp.schema, "pmix", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfgp.partitioning,
    )
    whp.append(cfgp.schema, "pmix", generate_df(spark, cfgp, 1, 50, seed=3, num_partitions=1), batch_id="b1")
    kept, total = whp.prune_files(cfgp.schema, "pmix", {"created_at_day": (0, 99)})
    assert len(kept) == total

def test_head_reads_parse_one_manifest_on_deep_history(spark, tmp_path, monkeypatch):
    """Round-5 O(1)-head contract (VERDICT r4 #1): on a 50-commit log table,
    an append commit and a read each parse <= 2 manifest files — NOT the
    whole history.  A table with V commits of F files would otherwise pay
    O(V*F) JSON parse per operation (streaming foreachBatch commits per
    micro-batch, so V grows fast at the engine's 100 TB posture); Iceberg
    reads a version hint + one head metadata file, and so do we.  Every
    manifest parse routes through ``_load_snapshot`` so it can be counted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "deephist"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    import os

    def tiny_file(i: int) -> str:
        d = os.path.join(tdir, "data", f"b{i:03d}", "g_test")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), p)
        return p

    for i in range(50):
        wh.commit_snapshot(cfg.schema, table, "append", add_files=[tiny_file(i)])
    assert wh.head_snapshot(cfg.schema, table)["version"] == 50

    loads: list[int] = []
    seg_loads: list[str] = []
    orig = ParquetWarehouse._load_head_light
    orig_seg = ParquetWarehouse._load_segment

    def counting(self, schema, table_, version, *a, **kw):
        loads.append(version)
        return orig(self, schema, table_, version, *a, **kw)

    def counting_seg(self, schema, table_, seg_name):
        seg_loads.append(seg_name)
        return orig_seg(self, schema, table_, seg_name)

    monkeypatch.setattr(ParquetWarehouse, "_load_head_light", counting)
    monkeypatch.setattr(ParquetWarehouse, "_load_segment", counting_seg)
    seg_bound = ParquetWarehouse.SEG_MERGE_MIN_COUNT + 1  # merge-bounded fan-out

    # an append commit: ONE head parse and — r6 manifest-list contract —
    # ZERO segment parses: the new segment is written, the parent's refs
    # carry over unopened (no drop_prefix, no merge due at this count)
    wh.commit_snapshot(cfg.schema, table, "append", add_files=[tiny_file(50)])
    assert len(loads) <= 2, f"commit parsed {len(loads)} heads: {loads}"
    assert set(loads) == {50}
    assert seg_loads == [], f"append commit opened segments: {seg_loads}"

    # a head read: one head parse + the head's (merge-bounded) segments
    loads.clear(), seg_loads.clear()
    assert wh.read(cfg.schema, table).count() == 51
    assert len(loads) <= 2, f"read parsed {len(loads)} heads: {loads}"
    assert set(loads) == {51}
    assert len(seg_loads) <= seg_bound

    # planning-time pruning at head: same O(head) shape
    loads.clear(), seg_loads.clear()
    kept, total = wh.prune_files(cfg.schema, table, {"id": (0, 4)})
    assert total == 51 and len(kept) == 5
    assert len(loads) <= 2 and set(loads) == {51}
    assert len(seg_loads) <= seg_bound

    # time travel is the sanctioned O(specific-version) path: one head too
    loads.clear(), seg_loads.clear()
    assert wh.read_snapshot(cfg.schema, table, 10).count() == 10
    assert len(loads) == 1 and loads == [10]
    assert len(seg_loads) <= seg_bound

    # $files metrology serves from the manifest: one parse, ZERO footers
    import pyarrow.parquet as pq_mod

    real_pf = pq_mod.ParquetFile
    footers: list[str] = []

    def counting_pf(path, *a, **kw):
        footers.append(str(path))
        return real_pf(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "ParquetFile", counting_pf)
    loads.clear()
    stats = wh.files(cfg.schema, table)
    assert len(stats) == 51 and sum(s.record_count for s in stats) == 51
    assert all(s.file_size_in_bytes > 0 for s in stats)
    assert footers == [] and len(loads) == 1


def test_timestamp_bounds_naive_utc_contract(log_table):
    """ADVICE r4 (medium): recorded timestamp bounds and query endpoints
    both normalize to NAIVE UTC.  Spark's TIMESTAMP_MICROS is
    isAdjustedToUTC, so pyarrow stats arrive tz-aware; without
    normalization an aware recorded bound ('...+00:00') sorts AFTER an
    equal naive endpoint and boundary-equality rows get wrongly pruned."""
    import datetime

    cfg, wh, table = log_table
    head = wh.snapshots(cfg.schema, table)[-1]
    for e in head["files"]:
        lo, hi = e["bounds"]["created_at"]
        assert "+" not in lo and "+" not in hi  # stored naive
    # exact boundary equality: endpoint == a file's UPPER bound must keep it
    ups = {e["path"]: e["bounds"]["created_at"][1] for e in head["files"]}
    target_path, target_up = sorted(ups.items())[0]
    naive = datetime.datetime.fromisoformat(target_up)
    aware = naive.replace(tzinfo=datetime.timezone.utc)
    kept_naive, _ = wh.prune_files(cfg.schema, table, {"created_at": (naive, naive)})
    kept_aware, _ = wh.prune_files(cfg.schema, table, {"created_at": (aware, aware)})
    assert kept_naive == kept_aware  # one convention, both endpoint styles
    assert any(target_path in p for p in kept_naive)
    # and a non-UTC aware endpoint converts, not strips: 10:00+02:00 == 08:00Z
    off = naive.replace(tzinfo=datetime.timezone(datetime.timedelta(hours=2)))
    assert ParquetWarehouse._json_bound(off) == (
        naive - datetime.timedelta(hours=2)
    ).isoformat()


def test_trunc_upper_never_emits_lone_surrogate():
    """ADVICE r4 (low): incrementing U+D7FF would produce lone surrogate
    U+D800 — invalid Unicode that a later UTF-8 encode of the manifest
    rejects.  Iceberg's UnicodeUtil treats it as non-incrementable; so do
    we (carry to the previous character)."""
    v = "a" * 31 + "퟿" + "x" * 8  # truncates to 'a'*31 + U+D7FF
    up = ParquetWarehouse._trunc_upper(v)
    assert up == "a" * 30 + "b"
    assert up > v  # still a valid upper bound
    up.encode("utf-8")  # round-trips: no surrogate leaked
    # max code point is non-incrementable as well
    v2 = "b" * 31 + "\U0010FFFF" + "y" * 8
    up2 = ParquetWarehouse._trunc_upper(v2)
    assert up2 == "b" * 30 + "c" and up2 > v2
    up2.encode("utf-8")


def test_numeric_partition_value_pruning(spark, tmp_path):
    """ADVICE r4 (low): bucket(N, col) partition dirs encode ints as
    strings ('2', '10'); lexicographic comparison would over-prune
    ('10' < '2').  All-digit partition values compare numerically, for both
    int and digit-string endpoints, and pruned+filter == full+filter."""
    cfg = narrow_example_config()
    cfg.partitioning = ["bucket(16, id)"]
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "bucketed"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfg.partitioning,
    )
    wh.append(cfg.schema, table, generate_df(spark, cfg, 1, 400, seed=23, num_partitions=1), batch_id="b1")
    head = wh.snapshots(cfg.schema, table)[-1]
    vals = sorted({int(e["partitions"]["id_bucket"]) for e in head["files"]})
    assert vals and vals[-1] >= 10  # two-digit buckets exist to trip lexicographic order
    full = wh.read(cfg.schema, table)
    expect = {
        r.id for r in full.filter(F.col("id_bucket").between(2, 10)).collect()
    }
    for lo, hi in [(2, 10), ("2", "10")]:
        kept, total = wh.prune_files(cfg.schema, table, {"id_bucket": (lo, hi)})
        in_range = [v for v in vals if 2 <= v <= 10]
        assert len(kept) == len(in_range) < total
        got = {
            r.id
            for r in wh.read_pruned(cfg.schema, table, {"id_bucket": (lo, hi)})
            .filter(F.col("id_bucket").between(2, 10))
            .collect()
        }
        assert got == expect and expect


def test_collapsed_read_matches_branch_read(spark, tmp_path, monkeypatch):
    """Both partitioned log-mode read shapes — per-generation basePath
    union (few generations) and the collapsed single scan with path-parsed
    partition columns (many generations) — must agree on rows, column
    names, order, and dtypes."""
    cfg = narrow_example_config()  # days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "shapes"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfg.partitioning,
    )
    for i, (start, n) in enumerate([(1, 100), (101, 80), (181, 60)]):
        wh.append(cfg.schema, table, generate_df(spark, cfg, start, n, seed=29, num_partitions=1), batch_id=f"b{i}")

    def canon(df):
        pdf = df.toPandas()
        return pdf.sort_values("id", ignore_index=True), [str(t) for t in pdf.dtypes]

    branch_df = wh.read(cfg.schema, table)
    assert "Union" in branch_df._jdf.queryExecution().optimizedPlan().toString()
    branch, branch_ty = canon(branch_df)
    monkeypatch.setattr(ParquetWarehouse, "MAX_BASEPATH_BRANCHES", 0)
    flat_df = wh.read(cfg.schema, table)
    assert "Union" not in flat_df._jdf.queryExecution().optimizedPlan().toString()
    flat, flat_ty = canon(flat_df)
    assert list(branch.columns) == list(flat.columns)
    assert branch_ty == flat_ty  # date stays date, not string
    assert branch.equals(flat)


def test_plan_width_bounded_at_100_generations(spark, tmp_path):
    """VERDICT r4 #5 (streaming-ingest shape): 100 un-compacted generations
    — one committed per micro-batch — must NOT produce a 100-branch union
    plan.  The collapsed read is one scan with constant plan size, and
    partition values still come back correct and filterable."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "manygen"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["days(created_at)"],
    )
    tdir = wh._tdir(cfg.schema, table)
    days = [f"2024-03-{d:02d}" for d in (1, 2, 3, 4, 5)]
    for i in range(100):
        d = os.path.join(
            tdir, "data", f"b{i:03d}", "g_t", f"created_at_day={days[i % 5]}"
        )
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), p)
        wh.commit_snapshot(cfg.schema, table, "append", add_files=[p])

    df = wh.read(cfg.schema, table)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan  # constant width, not 100 branches
    assert df.count() == 100
    pdf = df.toPandas()
    assert str(pdf.dtypes["created_at_day"]) == "object"  # datetime.date
    import datetime

    assert set(pdf["created_at_day"]) == {
        datetime.date(2024, 3, d) for d in (1, 2, 3, 4, 5)
    }
    one_day = df.filter(F.col("created_at_day") == "2024-03-02")
    assert one_day.count() == 20
    assert {r.id % 5 for r in one_day.collect()} == {1}
    # the manifest remains the sanctioned pruning path at this shape:
    # read_pruned drops 80 of 100 files before Spark ever plans the scan
    kept, total = wh.prune_files(
        cfg.schema, table, {"created_at_day": ("2024-03-02", "2024-03-02")}
    )
    assert total == 100 and len(kept) == 20


def test_collapsed_read_decodes_hive_escaped_partition_values(
    spark, tmp_path, monkeypatch
):
    """Identity string partition values with hive-escaped characters
    (':' -> %3A, '%' -> %25, plus a raw space) must round-trip identically
    through both read shapes: input_file_name() URI-encodes the path ON TOP
    of the writer's hive escaping, so the collapsed shape decodes twice."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "esc", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["k"],
    )
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x:y"), (3, "p%q"), (4, "plain"), (5, "a+b")],
        "id int, k string",
    )
    for i in range(3):
        wh.append("lab", "esc", df.withColumn("id", F.col("id") + 10 * i), batch_id=f"b{i}")
    want = sorted((r.id, r.k) for r in wh.read("lab", "esc").collect())
    ks = {k for _, k in want}
    # '+' is NOT hive-escaped and input_file_name leaves it raw — a
    # form-urlencoded decode would corrupt 'a+b' to 'a b' (ADVICE r5)
    assert {"x:y", "p%q", "a+b"} <= ks
    monkeypatch.setattr(ParquetWarehouse, "MAX_BASEPATH_BRANCHES", 0)
    flat_df = wh.read("lab", "esc")
    assert "Union" not in flat_df._jdf.queryExecution().optimizedPlan().toString()
    got = sorted((r.id, r.k) for r in flat_df.collect())
    assert got == want


def test_identity_digit_string_partition_lex_pruning(spark, tmp_path):
    """ADVICE r5: an identity partition on a STRING column holding digit
    strings must prune by the order Spark's filter actually uses — for
    string endpoints that's lexicographic ('2' IS between '10' and '30'),
    so numeric-only pruning would drop a file whose rows the filter keeps.
    Files are pruned only when both orders agree (``_pv_disjoint``)."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "digits", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["k"],
    )
    df = spark.createDataFrame(
        [(1, "2"), (2, "10"), (3, "30"), (4, "9")], "id int, k string"
    )
    wh.append("lab", "digits", df, batch_id="b1")
    full = wh.read("lab", "digits")
    # NOTE: Spark's own hive inference types all-digit dirs as int in the
    # branch read — pin the STRING-column semantics via the manifest's
    # recorded values and the oracle predicate on the string form
    head = wh.head_snapshot("lab", "digits")
    pvs = {e["partitions"]["k"] for e in head["files"]}
    assert pvs == {"2", "10", "30", "9"}
    kept, total = wh.prune_files("lab", "digits", {"k": ("10", "30")})
    assert total == 4
    kept_vals = {p.split("k=")[1].split("/")[0] for p in kept}
    # lexicographic keeps '2' (in-range) and numeric keeps '10','30';
    # '9' is outside BOTH orders ('9' > '30' lex, 9 < 10 num) -> pruned
    assert kept_vals == {"2", "10", "30"}
    # int endpoints force numeric comparison (Spark casts the column)
    kept_num, _ = wh.prune_files("lab", "digits", {"k": (10, 30)})
    vals_num = {p.split("k=")[1].split("/")[0] for p in kept_num}
    assert vals_num == {"10", "30"}
    # equivalence under the real filter, both endpoint styles
    for lo, hi in [("10", "30"), (10, 30)]:
        pred = F.col("k").between(F.lit(lo), F.lit(hi))
        want = {r.id for r in full.filter(pred).collect()}
        got = {
            r.id
            for r in wh.read_pruned("lab", "digits", {"k": (lo, hi)})
            .filter(pred)
            .collect()
        }
        assert got == want, (lo, hi)


def test_collapsed_read_identity_partition_dtypes(spark, tmp_path, monkeypatch):
    """VERDICT r5 #5: collapsed-read partition types derive from the
    transform spec, with identity columns inferred over ALL values.  A
    mixed identity column whose FIRST value is all-digit ('007') must come
    back string — a single-sample inference would cast('int') and NULL the
    non-numeric values — and an all-digit identity column still types int,
    matching the branch shape."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "mixed", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["k"],
    )
    df = spark.createDataFrame([(1, "007"), (2, "abc")], "id int, k string")
    wh.append("lab", "mixed", df, batch_id="b1")
    monkeypatch.setattr(ParquetWarehouse, "MAX_BASEPATH_BRANCHES", 0)
    flat = wh.read("lab", "mixed")
    assert dict(flat.dtypes)["k"] == "string"
    assert {(r.id, r.k) for r in flat.collect()} == {(1, "007"), (2, "abc")}

    wh.create_table(
        "lab", "ints", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["k"],
    )
    dfi = spark.createDataFrame([(1, 7), (2, 12)], "id int, k int")
    wh.append("lab", "ints", dfi, batch_id="b1")
    flati = wh.read("lab", "ints")
    assert dict(flati.dtypes)["k"] == "int"
    assert {(r.id, r.k) for r in flati.collect()} == {(1, 7), (2, 12)}
    # static transform types never consult values at all
    st = ParquetWarehouse._partition_static_types(
        ["bucket(16, id)", "years(ts)", "days(ts)", "months(ts)", "k"]
    )
    assert st == {
        "id_bucket": "int", "ts_year": "int", "ts_day": "date",
        "ts_month": "string", "k": None,
    }


def _tiny_parquet(tdir: str, batch: str, i: int, gen: str = "g_test") -> str:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tdir, "data", batch, gen)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"part-{i}.parquet")
    pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), p)
    return p


def test_append_commit_bytes_are_o_new_files(spark, tmp_path):
    """R6 manifest-list contract (VERDICT r5 #1): an append commit's
    serialized bytes are O(new files) + O(segment refs), NOT O(live
    files).  400 single-file commits: non-merge commits write a bounded,
    flat number of bytes however many files are live (the monolithic
    design wrote ~entry_size x live_files per commit — ~48 KB by commit
    400), the head file stays small, total manifest IO over the run is a
    fraction of the monolithic design's, and time travel still works
    across segment merges."""
    import os

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "bytecost"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    snap_dir = wh._snap_dir(cfg.schema, table)

    def snap_sizes() -> dict[str, int]:
        if not os.path.isdir(snap_dir):
            return {}
        return {
            fn: os.path.getsize(os.path.join(snap_dir, fn))
            for fn in os.listdir(snap_dir)
        }

    n = 400
    per_commit: list[tuple[int, int, int]] = []  # (version, bytes_written, refs)
    before = snap_sizes()
    for i in range(n):
        wh.commit_snapshot(
            cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, f"b{i:04d}", i)]
        )
        after = snap_sizes()
        written = sum(sz for fn, sz in after.items() if fn not in before)
        refs = len(wh._head_light(cfg.schema, table)["segments"])
        per_commit.append((i + 1, written, refs))
        before = after

    # entry cost measured from a real single-entry segment (commit 1)
    one_entry_seg = per_commit[0][1]
    assert one_entry_seg > 0

    # (a) non-merge commits write bounded, FLAT bytes: late non-merge
    # commits cost no more than early ones (x1.5 noise margin) and far
    # less than a monolithic rewrite of the live list would
    merges = {v for (v, _w, r), (pv, _pw, pr) in zip(per_commit[1:], per_commit) if r < pr}
    nonmerge = [(v, w) for v, w, _r in per_commit if v not in merges and v > 1]
    early = [w for v, w in nonmerge if 10 <= v <= 80]
    late = [w for v, w in nonmerge if v > n - 80]
    assert early and late
    assert max(late) <= max(early) * 1.5 + 512
    monolithic_at_tail = (n - 80) * one_entry_seg * 0.5  # conservative floor
    assert max(late) < monolithic_at_tail, (max(late), monolithic_at_tail)

    # (b) the head file itself stays small: O(refs), refs merge-bounded
    head_bytes = os.path.getsize(os.path.join(snap_dir, f"v{n:06d}.json"))
    assert head_bytes < 16_384
    assert all(r <= ParquetWarehouse.SEG_MERGE_MIN_COUNT + 1 for _v, _w, r in per_commit)

    # (c) total manifest IO across the run beats the monolithic design by
    # a wide margin (sum_i i*entry_bytes, conservatively halved)
    total_written = sum(w for _v, w, _r in per_commit)
    monolithic_total = sum(range(1, n + 1)) * one_entry_seg * 0.5
    assert total_written < monolithic_total / 3, (total_written, monolithic_total)

    # (d) merges happened (the bound is LIVE, not vacuous) and reads see
    # every row; time travel works across merged-away segments
    assert merges
    assert wh.head_snapshot(cfg.schema, table)["total_rows"] == n
    assert wh.read(cfg.schema, table).count() == n
    assert wh.read_snapshot(cfg.schema, table, 5).count() == 5
    assert wh.read_snapshot(cfg.schema, table, n - 1).count() == n - 1

    # (e) expiry GCs merged-away/superseded segments: afterwards the only
    # segment files on disk are the kept heads' refs
    removed = wh.expire_snapshots(cfg.schema, table, keep_last=2)
    assert removed == n - 2
    kept_refs = {
        ref["path"]
        for v in wh._snapshot_versions(cfg.schema, table)
        for ref in wh._load_head_light(cfg.schema, table, v)["segments"]
    }
    on_disk = {fn for fn in os.listdir(snap_dir) if fn.startswith("seg_")}
    assert on_disk == kept_refs
    assert wh.read(cfg.schema, table).count() == n


def test_drop_prefix_rewrites_only_intersecting_segments(spark, tmp_path):
    """A replayed batch supersedes its own prior generation by rewriting
    ONLY the segment(s) whose recorded roots intersect the dropped batch
    dir — every other parent segment ref carries over byte-identical."""
    import os

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "dropseg"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    for i in range(5):
        wh.commit_snapshot(
            cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, f"b{i}", i)]
        )
    refs_before = {
        r["path"]: r for r in wh._head_light(cfg.schema, table)["segments"]
    }
    # replay batch b2: new generation file + drop of the old b2 generation
    newf = _tiny_parquet(tdir, "b2", 99, gen="g_test2")
    wh.commit_snapshot(
        cfg.schema,
        table,
        "append",
        add_files=[newf],
        drop_prefix=os.path.join(tdir, "data", "b2") + os.sep,
    )
    head = wh.head_snapshot(cfg.schema, table)
    paths = {e["path"] for e in head["files"]}
    assert "data/b2/g_test/part-2.parquet" not in paths  # superseded
    assert "data/b2/g_test2/part-99.parquet" in paths
    assert {f"data/b{i}/g_test/part-{i}.parquet" for i in (0, 1, 3, 4)} <= paths
    refs_after = {r["path"]: r for r in wh._head_light(cfg.schema, table)["segments"]}
    untouched_before = {
        p for p, r in refs_before.items() if "data/b2" not in r["roots"]
    }
    assert untouched_before <= set(refs_after)  # carried over by reference


def test_version_hint_head_discovery(spark, tmp_path):
    """Head discovery goes through the version hint (written after each
    CAS publish) + forward probing — no O(history) dir listing on the hot
    path.  A stale, corrupt, or missing hint degrades to the right answer,
    never a wrong one."""
    import os

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "hinted"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    for i in range(5):
        wh.commit_snapshot(
            cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, f"b{i}", i)]
        )
    hint = wh._hint_path(cfg.schema, table)
    with open(hint) as f:
        assert f.read().strip() == "5"
    # stale hint: probe forward
    with open(hint, "w") as f:
        f.write("2")
    assert wh._latest_version(cfg.schema, table) == 5
    # corrupt hint: listing fallback
    with open(hint, "w") as f:
        f.write("nonsense")
    assert wh._latest_version(cfg.schema, table) == 5
    # missing hint: listing fallback, and the next commit restores it
    os.unlink(hint)
    assert wh._latest_version(cfg.schema, table) == 5
    wh.commit_snapshot(
        cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, "b9", 9)]
    )
    with open(hint) as f:
        assert f.read().strip() == "6"
    # expiry keeps the hint valid (it points at the newest, kept head)
    wh.expire_snapshots(cfg.schema, table, keep_last=1)
    assert wh.head_snapshot(cfg.schema, table)["version"] == 6
    assert wh.read(cfg.schema, table).count() == 6


def test_rewrite_manifests_and_history(spark, tmp_path):
    """``rewrite_manifests`` is a metadata-only commit collapsing the
    segment list to one (Iceberg CALL system.rewrite_manifests): no data
    footer opens, rows unchanged, time travel to pre-rewrite heads intact.
    ``history()`` summarizes lineage from head files alone — zero segment
    parses."""
    import pyarrow.parquet as pq_mod

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "rewman"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    for i in range(6):
        wh.commit_snapshot(
            cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, f"b{i}", i)]
        )
    assert len(wh._head_light(cfg.schema, table)["segments"]) == 6

    opened: list[str] = []
    real = pq_mod.ParquetFile

    def counting(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(pq_mod, "ParquetFile", counting)
        res = wh.rewrite_manifests(cfg.schema, table)
    finally:
        mp.undo()
    assert res == {"segments_before": 6, "segments_after": 1, "version": 7}
    assert opened == []  # metadata-only: zero footer opens
    head = wh.head_snapshot(cfg.schema, table)
    assert len(head["segments"]) == 1 and head["total_rows"] == 6
    assert wh.read(cfg.schema, table).count() == 6
    assert wh.read_snapshot(cfg.schema, table, 3).count() == 3  # time travel
    # idempotent on a single-segment head (no new version)
    assert wh.rewrite_manifests(cfg.schema, table) == {
        "segments_before": 1, "segments_after": 1,
    }

    seg_loads: list[str] = []
    orig_seg = ParquetWarehouse._load_segment

    def counting_seg(self, schema, table_, seg_name):
        seg_loads.append(seg_name)
        return orig_seg(self, schema, table_, seg_name)

    mp2 = _pytest.MonkeyPatch()
    try:
        mp2.setattr(ParquetWarehouse, "_load_segment", counting_seg)
        hist = wh.history(cfg.schema, table)
    finally:
        mp2.undo()
    assert seg_loads == []  # lineage from heads only
    assert [h["version"] for h in hist] == list(range(1, 8))
    assert hist[-1]["operation"] == "rewrite_manifests"
    assert hist[-1]["segments"] == 1 and hist[-1]["total_rows"] == 6
    assert [h["total_rows"] for h in hist] == [1, 2, 3, 4, 5, 6, 6]


def test_partition_summary_skips_whole_segments(spark, tmp_path, monkeypatch):
    """Iceberg manifest-list partition summaries: each segment ref records
    its distinct partition values (capped), and prune_files skips whole
    segments WITHOUT parsing their entries when the summary is disjoint —
    planning cost tracks qualifying segments.  Results stay identical to
    the per-entry pass, and a summary-less (wide merged) segment is
    conservatively opened."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "segskip"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["days(ts)"],
    )
    tdir = wh._tdir(cfg.schema, table)
    days = [f"2024-03-{d:02d}" for d in range(1, 11)]
    # one generation per day -> one single-day segment per commit
    for i, day in enumerate(days):
        d = os.path.join(tdir, "data", f"b{i:03d}", "g_t", f"ts_day={day}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), p)
        wh.commit_snapshot(cfg.schema, table, "append", add_files=[p])
    refs = wh._head_light(cfg.schema, table)["segments"]
    assert all(r["pv"] == {"ts_day": [days[i]]} for i, r in enumerate(refs))

    seg_loads: list[str] = []
    orig_seg = ParquetWarehouse._load_segment

    def counting_seg(self, schema, table_, seg_name):
        seg_loads.append(seg_name)
        return orig_seg(self, schema, table_, seg_name)

    monkeypatch.setattr(ParquetWarehouse, "_load_segment", counting_seg)
    kept, total = wh.prune_files(
        cfg.schema, table, {"ts_day": ("2024-03-03", "2024-03-04")}
    )
    assert total == 10 and len(kept) == 2
    assert len(seg_loads) == 2  # 8 of 10 segments never parsed
    monkeypatch.undo()

    # rewrite_manifests merges all 10 days into one segment: > the summary
    # cap would drop the column, but 10 <= 16 keeps it; equivalence holds
    wh.rewrite_manifests(cfg.schema, table)
    ref = wh._head_light(cfg.schema, table)["segments"][0]
    assert ref["pv"]["ts_day"] == days
    kept2, total2 = wh.prune_files(
        cfg.schema, table, {"ts_day": ("2024-03-03", "2024-03-04")}
    )
    assert total2 == 10 and sorted(kept2) == sorted(kept)
    # a disjoint query skips even the merged segment via its summary
    kept3, _ = wh.prune_files(
        cfg.schema, table, {"ts_day": ("2025-01-01", "2025-12-31")}
    )
    assert kept3 == []
    # cap respected: >16 distinct values -> column omitted, segment opened
    entries = [
        {"path": f"data/x/g/ts_day=2024-04-{d:02d}/f.parquet", "bytes": 1,
         "rows": 1, "partitions": {"ts_day": f"2024-04-{d:02d}"}}
        for d in range(1, 20)
    ]
    assert ParquetWarehouse._partition_summary(entries) == {}


def test_partition_scoped_optimize(spark, tmp_path):
    """Iceberg rewrite_data_files(where): compaction scoped to hot
    partitions rewrites ONLY files whose recorded partition values
    intersect the filter — cold partitions' entries carry over verbatim,
    rows are preserved, time travel to the pre-compaction head works, and
    a concurrent removal of a victim raises instead of merging blindly."""
    cfg = narrow_example_config()  # days(created_at)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "scopedopt"
    wh.create_table(
        cfg.schema, table, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=cfg.partitioning,
    )
    # three generations over the SAME id span (created_at derives from id,
    # so identical day coverage) -> every day is fragmented across 3 files
    for i in range(3):
        wh.append(
            cfg.schema, table,
            generate_df(wh.spark, cfg, 1, 150, seed=51, num_partitions=1),
            batch_id=f"b{i}",
        )
    head = wh.head_snapshot(cfg.schema, table)
    v_before = head["version"]
    days = sorted({e["partitions"]["created_at_day"] for e in head["files"]})
    target = days[0]
    victims_before = [
        e["path"] for e in head["files"]
        if e["partitions"]["created_at_day"] == target
    ]
    cold_before = {
        e["path"]: e for e in head["files"]
        if e["partitions"]["created_at_day"] != target
    }
    assert len(victims_before) == 3  # fragmented across the generations
    rows_total = wh.read(cfg.schema, table).count()
    rows_target = (
        wh.read(cfg.schema, table)
        .filter(F.col("created_at_day") == target)
        .count()
    )

    n_new = wh.optimize(
        cfg.schema, table,
        partition_filter={"created_at_day": (target, target)},
    )
    assert n_new == 1  # 3 fragments -> 1 compacted file
    head2 = wh.head_snapshot(cfg.schema, table)
    assert head2["operation"] == "optimize"
    paths2 = {e["path"]: e for e in head2["files"]}
    assert not (set(victims_before) & set(paths2))  # victims replaced
    for p, e in cold_before.items():  # cold partitions untouched, verbatim
        assert paths2[p] == e
    new_target_files = [
        p for p, e in paths2.items()
        if e["partitions"]["created_at_day"] == target
    ]
    assert len(new_target_files) == 1 and "/compact_" in new_target_files[0]
    # rows preserved, globally and in the compacted partition
    assert wh.read(cfg.schema, table).count() == rows_total
    assert (
        wh.read(cfg.schema, table)
        .filter(F.col("created_at_day") == target)
        .count()
        == rows_target
    )
    # time travel to the pre-compaction head still sees the old layout
    assert wh.read_snapshot(cfg.schema, table, v_before).count() == rows_total
    # no-op scope: a range matching nothing rewrites nothing
    assert wh.optimize(
        cfg.schema, table,
        partition_filter={"created_at_day": ("2099-01-01", "2099-01-02")},
    ) == 0
    # conflicting rewrite: dropping an already-replaced victim raises
    import os as _os

    with pytest.raises(RuntimeError, match="no longer in the head"):
        wh.commit_snapshot(
            cfg.schema, table, "optimize",
            drop_files=[_os.path.join(wh._tdir(cfg.schema, table), victims_before[0])],
        )


def test_age_based_snapshot_expiry(spark, tmp_path):
    """Iceberg expire_snapshots(older_than): only candidates committed
    before the cutoff expire, the newest keep_last survive regardless of
    age, heads without a commit time are conservatively kept, and the
    expiry may leave a non-contiguous history that still reads and
    time-travels."""
    import json as _json
    import os
    import time

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "aged"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    for i in range(5):
        wh.commit_snapshot(
            cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, f"b{i}", i)]
        )
    hist = wh.history(cfg.schema, table)
    assert all(h["ts"] is not None for h in hist)
    snap_dir = wh._snap_dir(cfg.schema, table)

    def set_ts(version, ts):
        p = os.path.join(snap_dir, f"v{version:06d}.json")
        with open(p) as f:
            h = _json.load(f)
        h["ts"] = ts
        with open(p, "w") as f:
            _json.dump(h, f)

    old = time.time() - 7200
    set_ts(1, old)
    set_ts(2, old)
    # v3 and v4 recent (their own commit times), v5 head
    removed = wh.expire_snapshots(cfg.schema, table, keep_last=1, older_than_s=3600)
    assert removed == 2  # v1, v2 only
    assert wh._snapshot_versions(cfg.schema, table) == [3, 4, 5]
    assert wh.read(cfg.schema, table).count() == 5
    assert wh.read_snapshot(cfg.schema, table, 4).count() == 4
    # keep_last floor: even ancient heads survive inside it
    set_ts(5, old)
    removed = wh.expire_snapshots(cfg.schema, table, keep_last=1, older_than_s=3600)
    assert removed == 0  # v3, v4 recent, v5 is the kept head
    assert wh._snapshot_versions(cfg.schema, table) == [3, 4, 5]


def test_orphaned_segment_files_age_gated_sweep(spark, tmp_path):
    """A segment written by a crashed/aborted commit is an orphan: the
    age-gated sweep removes it, a fresh one (possibly an in-flight
    commit's) survives, and referenced segments are never touched."""
    import json as _json
    import os
    import time

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "orphseg"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)
    wh.commit_snapshot(
        cfg.schema, table, "append", add_files=[_tiny_parquet(tdir, "b0", 0)]
    )
    snap_dir = wh._snap_dir(cfg.schema, table)
    old_orphan = os.path.join(snap_dir, "seg_deadbeef0000.json")
    new_orphan = os.path.join(snap_dir, "seg_deadbeef0001.json")
    for p in (old_orphan, new_orphan):
        with open(p, "w") as f:
            _json.dump({"files": []}, f)
    past = time.time() - 7200
    os.utime(old_orphan, (past, past))
    removed = wh.remove_orphan_files(cfg.schema, table, older_than_s=3600)
    assert removed == 1
    assert not os.path.exists(old_orphan) and os.path.exists(new_orphan)
    assert wh.read(cfg.schema, table).count() == 1


def test_cas_commit_stress_with_head_only_retries(spark, tmp_path):
    """80 contended commits from 16 threads through the r05 head-only CAS
    loop (each attempt re-reads ONE manifest, not the history): versions
    must come out dense, every thread's files present in the head, and
    per-version totals monotonically increasing — no lost update, no
    clobbered manifest, under far more contention than the Spark-write
    race test can generate."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = narrow_example_config()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    table = "casstress"
    wh.create_table(cfg.schema, table, "zstd", 1, properties={"snapshots": "true"})
    tdir = wh._tdir(cfg.schema, table)

    def one_commit(i: int) -> None:
        d = os.path.join(tdir, "data", f"t{i:03d}", "g_s")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-0.parquet")
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), p)
        wh.commit_snapshot(cfg.schema, table, "append", add_files=[p])

    with ThreadPoolExecutor(max_workers=16) as ex:
        list(ex.map(one_commit, range(80)))

    versions = wh._snapshot_versions(cfg.schema, table)
    assert versions == list(range(1, 81)), "versions not dense"
    head = wh.head_snapshot(cfg.schema, table)
    assert len(head["files"]) == 80  # every thread's file survived the races
    assert head["total_rows"] == 80
    totals = [
        wh._load_snapshot(cfg.schema, table, v)["total_rows"] for v in versions
    ]
    assert totals == sorted(totals) and totals[0] == 1  # monotone growth
