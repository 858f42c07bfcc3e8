"""Schema evolution on log-mode tables (VERDICT r6 #1): Iceberg's
field-id model on the snapshot log.

- every head carries all schemas ever + the current schema_id; entries
  record the schema id their file was written under (``sid``);
- add/rename/drop column are METADATA-ONLY commits (segment refs carry
  over verbatim, zero data IO);
- reads union-by-field-id across generations written under different
  schemas (old files NULL-fill added columns; renames resolve through
  the id mapping) — DuckDB-checked below;
- time travel presents each snapshot under ITS OWN schema;
- pruning on a renamed column resolves bounds recorded under the
  write-time name;
- identity partition dtypes come from the RECORDED schema, identical
  between pruned and full reads (ADVICE r6 low #4).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


def _paths_by_sid(wh, schema, table):
    head = wh.head_snapshot(schema, table)
    tdir = wh._tdir(schema, table)
    out: dict[int, list[str]] = {}
    for e in head["files"]:
        out.setdefault(int(e.get("sid", 0)), []).append(
            os.path.join(tdir, e["path"])
        )
    return out


def test_add_column_null_fills_and_matches_duckdb(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "t",
        spark.createDataFrame([(1, 10), (2, 20)], "id int, v int"),
        batch_id="g1",
    )
    out = wh.add_column("lab", "t", "w", "bigint")
    assert out["operation"] == "add_column" and out["schema_id"] == 1
    wh.append(
        "lab", "t",
        spark.createDataFrame([(3, 30, 300), (4, 40, 400)], "id int, v int, w bigint"),
        batch_id="g2",
    )
    got = sorted(
        (r.id, r.v, r.w) for r in wh.read("lab", "t").collect()
    )
    assert got == [(1, 10, None), (2, 20, None), (3, 30, 300), (4, 40, 400)]
    # DuckDB oracle: union_by_name over the live files NULL-fills the same
    groups = _paths_by_sid(wh, "lab", "t")
    all_paths = sorted(p for ps in groups.values() for p in ps)
    con = duckdb.connect()
    oracle = con.execute(
        f"SELECT id, v, w FROM read_parquet({all_paths!r}, union_by_name=true) "
        "ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in oracle] == got


def test_rename_resolves_old_files_and_matches_duckdb(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "r", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "r",
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "id int, val double"),
        batch_id="g1",
    )
    wh.rename_column("lab", "r", "val", "amount")
    wh.append(
        "lab", "r",
        spark.createDataFrame([(3, 3.5)], "id int, amount double"),
        batch_id="g2",
    )
    df = wh.read("lab", "r")
    assert df.columns == ["id", "amount"]
    got = sorted((r.id, r.amount) for r in df.collect())
    assert got == [(1, 1.5), (2, 2.5), (3, 3.5)]
    # DuckDB oracle: old-schema group aliased through the rename
    groups = _paths_by_sid(wh, "lab", "r")
    con = duckdb.connect()
    oracle = con.execute(
        f"SELECT id, val AS amount FROM read_parquet({groups[0]!r}) "
        f"UNION ALL SELECT id, amount FROM read_parquet({groups[1]!r}) "
        "ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in oracle] == got


def test_three_generation_evolution_matches_duckdb(spark, tmp_path):
    """add + rename across three generations, one evolved read."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "e3", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "e3",
        spark.createDataFrame([(1, "a1")], "id int, a string"), batch_id="g1",
    )
    wh.add_column("lab", "e3", "b", "int")
    wh.append(
        "lab", "e3",
        spark.createDataFrame([(2, "a2", 22)], "id int, a string, b int"),
        batch_id="g2",
    )
    wh.rename_column("lab", "e3", "a", "alpha")
    wh.append(
        "lab", "e3",
        spark.createDataFrame([(3, "a3", 33)], "id int, alpha string, b int"),
        batch_id="g3",
    )
    df = wh.read("lab", "e3")
    assert df.columns == ["id", "alpha", "b"]
    got = sorted((r.id, r.alpha, r.b) for r in df.collect())
    assert got == [(1, "a1", None), (2, "a2", 22), (3, "a3", 33)]
    groups = _paths_by_sid(wh, "lab", "e3")
    con = duckdb.connect()
    oracle = con.execute(
        f"SELECT id, a AS alpha, NULL::INT AS b FROM read_parquet({groups[0]!r}) "
        f"UNION ALL SELECT id, a AS alpha, b FROM read_parquet({groups[1]!r}) "
        f"UNION ALL SELECT id, alpha, b FROM read_parquet({groups[2]!r}) "
        "ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in oracle] == got
    # three sids live simultaneously; history records the DDL lineage
    assert sorted(groups) == [0, 1, 2]
    ops = [h["operation"] for h in wh.history("lab", "e3")]
    assert ops == ["append", "add_column", "append", "rename_column", "append"]
    assert [h["schema_id"] for h in wh.history("lab", "e3")] == [0, 1, 1, 2, 2]


def test_ddl_commits_are_metadata_only(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "m", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "m", spark.createDataFrame([(1,)], "id int"), batch_id="g1"
    )
    head1 = wh._head_light("lab", "m")
    snap_dir = wh._snap_dir("lab", "m")
    segs_before = sorted(f for f in os.listdir(snap_dir) if f.startswith("seg_"))
    data_mtimes = {
        p: os.stat(p).st_mtime_ns for p in wh.prune_files("lab", "m", {})[0]
    }
    wh.add_column("lab", "m", "x", "int")
    head2 = wh._head_light("lab", "m")
    # segment refs carried over VERBATIM; no new segment, no data touched
    assert head2["segments"] == head1["segments"]
    assert sorted(
        f for f in os.listdir(snap_dir) if f.startswith("seg_")
    ) == segs_before
    for p, m in data_mtimes.items():
        assert os.stat(p).st_mtime_ns == m
    assert head2["total_rows"] == head1["total_rows"]
    assert wh.table_schema("lab", "m") == [
        {"id": 1, "name": "id", "type": "int"},
        {"id": 2, "name": "x", "type": "int"},
    ]


def test_time_travel_presents_each_snapshot_under_its_own_schema(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "tt", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "tt",
        spark.createDataFrame([(1, "x1")], "id int, name string"), batch_id="g1",
    )  # v1, schema 0
    wh.rename_column("lab", "tt", "name", "label")  # v2, schema 1
    wh.append(
        "lab", "tt",
        spark.createDataFrame([(2, "x2")], "id int, label string"), batch_id="g2",
    )  # v3
    wh.add_column("lab", "tt", "score", "double")  # v4, schema 2
    # v1 reads under schema 0 — old column name
    assert wh.read_snapshot("lab", "tt", 1).columns == ["id", "name"]
    # v2 (the rename commit itself): same files, NEW name
    assert wh.read_snapshot("lab", "tt", 2).columns == ["id", "label"]
    # v3: mixed generations both present under schema 1
    v3 = wh.read_snapshot("lab", "tt", 3)
    assert v3.columns == ["id", "label"]
    assert sorted((r.id, r.label) for r in v3.collect()) == [(1, "x1"), (2, "x2")]
    # v4: score NULL-fills everywhere
    v4 = wh.read_snapshot("lab", "tt", 4)
    assert v4.columns == ["id", "label", "score"]
    assert {r.score for r in v4.collect()} == {None}
    # per-version schema introspection agrees
    assert [f["name"] for f in wh.table_schema("lab", "tt", version=1)] == ["id", "name"]
    assert [f["name"] for f in wh.table_schema("lab", "tt", version=4)] == [
        "id", "label", "score",
    ]


def test_pruning_resolves_renamed_column_bounds(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "pr", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "pr",
        spark.createDataFrame([(i,) for i in range(1, 301)], "val int").coalesce(1),
        batch_id="g1",
    )
    wh.rename_column("lab", "pr", "val", "amount")
    wh.append(
        "lab", "pr",
        spark.createDataFrame([(i,) for i in range(301, 501)], "amount int").coalesce(1),
        batch_id="g2",
    )
    # bounds of g1's file were recorded under 'val'; the query names
    # 'amount' — the field-id mapping must still prune g2 away
    kept, total = wh.prune_files("lab", "pr", {"amount": (1, 100)})
    assert total == 2 and len(kept) == 1 and "/g1/" in kept[0]
    kept2, _ = wh.prune_files("lab", "pr", {"amount": (400, 500)})
    assert len(kept2) == 1 and "/g2/" in kept2[0]
    # invariant: pruned+filter == full+filter on the evolved column
    pred = F.col("amount").between(1, 100)
    full = {r.amount for r in wh.read("lab", "pr").filter(pred).collect()}
    pruned = {
        r.amount
        for r in wh.read_pruned("lab", "pr", {"amount": (1, 100)})
        .filter(pred)
        .collect()
    }
    assert pruned == full and len(full) == 100


def test_append_validation_and_null_fill(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "v", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "v",
        spark.createDataFrame([(1, 10)], "id int, v int"), batch_id="g1",
    )
    # unknown column -> error directing to add_column
    with pytest.raises(ValueError, match="add_column first"):
        wh.append(
            "lab", "v",
            spark.createDataFrame([(2, 20, 5)], "id int, v int, extra int"),
            batch_id="g2",
        )
    # type change -> error (no implicit type evolution)
    with pytest.raises(ValueError, match="type mismatch"):
        wh.append(
            "lab", "v",
            spark.createDataFrame([(2, "x")], "id int, v string"),
            batch_id="g2",
        )
    # omitted column NULL-fills at the recorded type
    wh.append(
        "lab", "v", spark.createDataFrame([(3,)], "id int"), batch_id="g3"
    )
    got = sorted((r.id, r.v) for r in wh.read("lab", "v").collect())
    assert got == [(1, 10), (3, None)]


def test_evolution_guards(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "g", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["days(ts)"],
        sort_order=["v"],
    )
    wh.append(
        "lab", "g",
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 5)], "id int, ts string, v int"
        ).withColumn("ts", F.to_timestamp("ts")),
        batch_id="g1",
    )
    with pytest.raises(ValueError, match="partitioning spec"):
        wh.rename_column("lab", "g", "ts", "event_ts")
    with pytest.raises(ValueError, match="partitioning spec"):
        wh.drop_column("lab", "g", "ts_day")  # derived partition column
    with pytest.raises(ValueError, match="sort order"):
        wh.drop_column("lab", "g", "v")
    with pytest.raises(ValueError, match="already exists"):
        wh.add_column("lab", "g", "id", "int")
    with pytest.raises(ValueError, match="no column"):
        wh.rename_column("lab", "g", "nope", "x")
    with pytest.raises(ValueError, match="invalid column type"):
        wh.add_column("lab", "g", "bad", "not_a_type!!")
    # no commit yet -> nothing to evolve
    wh.create_table("lab", "fresh", "zstd", 1, properties={"snapshots": "true"})
    with pytest.raises(ValueError, match="no recorded schema"):
        wh.add_column("lab", "fresh", "x", "int")


def test_drop_column_hides_and_readd_does_not_resurface(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "d", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "d",
        spark.createDataFrame([(1, "secret")], "id int, note string"),
        batch_id="g1",
    )
    v1 = wh.head_snapshot("lab", "d")["version"]
    wh.drop_column("lab", "d", "note")
    assert wh.read("lab", "d").columns == ["id"]
    # old snapshot still presents the dropped column (its own schema)
    assert wh.read_snapshot("lab", "d", v1).columns == ["id", "note"]
    # re-adding the NAME allocates a NEW field id: old values stay buried
    wh.add_column("lab", "d", "note", "string")
    df = wh.read("lab", "d")
    assert df.columns == ["id", "note"]
    assert [r.note for r in df.collect()] == [None]
    ids = {f["name"]: f["id"] for f in wh.table_schema("lab", "d")}
    assert ids["note"] == 3  # not the original field 2


def test_identity_partition_dtype_from_recorded_schema(spark, tmp_path):
    """ADVICE r6 low #4: an all-digit identity partition value must not
    flip the column to int when the source column is a string — and the
    type must be IDENTICAL between full and pruned reads."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "ident", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["code"],
    )
    wh.append(
        "lab", "ident",
        spark.createDataFrame(
            [("007", 1), ("42", 2)], "code string, v int"
        ),
        batch_id="g1",
    )
    full = wh.read("lab", "ident")
    assert dict(full.dtypes)["code"] == "string"
    # '007' survives as a string (an int cast would make it 7)
    assert sorted(r.code for r in full.collect()) == ["007", "42"]
    pruned = wh.read_pruned("lab", "ident", {"v": (1, 1)})
    assert dict(pruned.dtypes)["code"] == "string"


def test_delete_and_optimize_on_evolved_table(spark, tmp_path):
    """DML over a mixed-schema table: victims written under the old
    schema project to the current one; the rewrite emits current-schema
    files and the read stays consistent."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "mix", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "mix",
        spark.createDataFrame([(1, 10), (2, 20)], "id int, val int"),
        batch_id="g1",
    )
    wh.rename_column("lab", "mix", "val", "amount")
    wh.add_column("lab", "mix", "tag", "string")
    wh.append(
        "lab", "mix",
        spark.createDataFrame([(3, 30, "t3")], "id int, amount int, tag string"),
        batch_id="g2",
    )
    out = wh.delete_where("lab", "mix", "amount = 20")
    assert out["rows_deleted"] == 1
    got = sorted((r.id, r.amount, r.tag) for r in wh.read("lab", "mix").collect())
    assert got == [(1, 10, None), (3, 30, "t3")]
    # full optimize rewrites everything under the CURRENT schema
    wh.optimize("lab", "mix")
    head = wh.head_snapshot("lab", "mix")
    assert {int(e.get("sid", 0)) for e in head["files"]} == {head["schema_id"]}
    got2 = sorted((r.id, r.amount, r.tag) for r in wh.read("lab", "mix").collect())
    assert got2 == got


def test_update_column_type_widening(spark, tmp_path):
    """Iceberg-legal promotions only: int -> bigint widens via a
    metadata-only commit; old narrow files read through the field-id
    cast; appends at the old narrow type upcast automatically; anything
    non-widening is refused."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "wide", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "wide",
        spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1),
        batch_id="g1",
    )
    wh.update_column_type("lab", "wide", "v", "bigint")
    assert dict(wh.read("lab", "wide").dtypes)["v"] == "bigint"
    # append at the WIDE type
    wh.append(
        "lab", "wide",
        spark.createDataFrame([(2, 2**40)], "id int, v bigint").coalesce(1),
        batch_id="g2",
    )
    # append still at the old NARROW type upcasts silently
    wh.append(
        "lab", "wide",
        spark.createDataFrame([(3, 30)], "id int, v int").coalesce(1),
        batch_id="g3",
    )
    got = sorted((r.id, r.v) for r in wh.read("lab", "wide").collect())
    assert got == [(1, 10), (2, 2**40), (3, 30)]
    # pruning on the widened column still sees the narrow files' bounds
    kept, total = wh.prune_files("lab", "wide", {"v": (0, 100)})
    assert total == 3 and len(kept) == 2  # g1 + g3, not the 2**40 file
    # narrowing and cross-family changes are refused
    with pytest.raises(ValueError, match="widenings"):
        wh.update_column_type("lab", "wide", "v", "int")
    with pytest.raises(ValueError, match="widenings"):
        wh.update_column_type("lab", "wide", "id", "string")
    with pytest.raises(ValueError, match="already"):
        wh.update_column_type("lab", "wide", "v", "bigint")
    # time travel: the pre-widening snapshot is still int-typed
    assert dict(wh.read_snapshot("lab", "wide", 1).dtypes)["v"] == "int"


def test_show_create_reflects_evolved_schema_metadata_only(spark, tmp_path, monkeypatch):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "sc", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "sc",
        spark.createDataFrame([(1, "x")], "id int, name string"), batch_id="g1",
    )
    wh.rename_column("lab", "sc", "name", "label")
    wh.add_column("lab", "sc", "score", "double")
    # metadata-only: a data read would fail loudly if attempted
    monkeypatch.setattr(
        ParquetWarehouse, "read",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("data read")),
    )
    ddl = wh.show_create_table("lab", "sc")
    assert "label string" in ddl and "score double" in ddl
    assert "name string" not in ddl


def test_rewrite_manifests_carries_schemas(spark, tmp_path):
    """Metadata segment compaction must not drop the schema record (the
    randomized model test found exactly this: entries keep their sids, so
    a head without the schema list silently un-evolves the table)."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "rm", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "rm", spark.createDataFrame([(1,)], "id int"), batch_id="g1"
    )
    wh.rename_column("lab", "rm", "id", "ident")
    wh.append(
        "lab", "rm", spark.createDataFrame([(2,)], "ident int"), batch_id="g2"
    )
    out = wh.rewrite_manifests("lab", "rm")
    assert out["segments_after"] == 1
    assert [f["name"] for f in wh.table_schema("lab", "rm")] == ["ident"]
    got = sorted(r.ident for r in wh.read("lab", "rm").collect())
    assert got == [1, 2]


def test_streaming_ingest_across_schema_evolution(spark, tmp_path):
    """Streaming ingest survives a schema change between restarts: after
    add_column, epochs from the (older, narrower) source schema NULL-fill
    the new column through the append conformance, exactly-once ingest is
    untouched, and mixed-schema generations read together.  Renaming an
    ingested column, by contrast, must FAIL the next epoch loudly —
    writer schemas don't silently re-route."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hands_on_iceberg_compression_spark.streaming.events_stream import (
        stream_into_warehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "ev", "zstd", 1, properties={"snapshots": "true"})
    src_dir = str(tmp_path / "src")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    df1.coalesce(1).write.parquet(src_dir)

    def run_stream():
        stream = (
            spark.readStream.schema(df1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        stream_into_warehouse(stream, wh, "lab", "ev", str(tmp_path / "ckpt"))

    run_stream()
    assert wh.read("lab", "ev").count() == 2

    wh.add_column("lab", "ev", "score", "double")
    # more source files arrive, still at the PRE-evolution schema
    spark.createDataFrame([(3, "c"), (4, "d")], "id int, s string").coalesce(
        1
    ).write.mode("append").parquet(src_dir)
    run_stream()  # same checkpoint: only the new files are new epochs
    got = wh.read("lab", "ev")
    assert got.columns == ["id", "s", "score"]
    assert got.count() == 4
    assert got.filter(F.col("score").isNull()).count() == 4
    # a batch append CAN now carry the evolved column
    wh.append(
        "lab", "ev",
        spark.createDataFrame([(5, "e", 0.5)], "id int, s string, score double"),
        batch_id="manual",
    )
    rows = {(r.id, r.score) for r in wh.read("lab", "ev").collect()}
    assert (5, 0.5) in rows and len(rows) == 5

    # renaming the column the stream still writes -> next epoch fails loudly
    wh.rename_column("lab", "ev", "s", "label")
    spark.createDataFrame([(6, "f")], "id int, s string").coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    with pytest.raises(StreamingQueryException, match="add_column first"):
        run_stream()


def test_delete_everything_leaves_schema_stable_empty_read(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "empty", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "empty",
        spark.createDataFrame([(1, "x")], "id int, s string"), batch_id="g1",
    )
    wh.delete_where("lab", "empty", "id = 1")
    df = wh.read("lab", "empty")
    assert df.columns == ["id", "s"]
    assert dict(df.dtypes) == {"id": "int", "s": "string"}
    assert df.count() == 0


def test_decimal_precision_widening(spark, tmp_path):
    """r18 (VERDICT r17 #3): decimal SCALE-PRESERVING precision growth
    is the third Iceberg-legal promotion — decimal(P,S) ->
    decimal(P',S) with P' > P widens via the same metadata-only commit
    (``widen_column`` is the docs-spelling alias); narrow files read
    through the field-id cast, narrow appends upcast; scale changes,
    precision shrinks, and cross-family changes all refuse."""
    from decimal import Decimal

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("lab", "dec", "zstd", 1, properties={"snapshots": "true"})
    wh.append(
        "lab", "dec",
        spark.createDataFrame(
            [(1, Decimal("12.34"))], "id int, amt decimal(10,2)"
        ).coalesce(1),
        batch_id="g1",
    )
    wh.widen_column("lab", "dec", "amt", "decimal(14,2)")
    assert dict(wh.read("lab", "dec").dtypes)["amt"] == "decimal(14,2)"
    # append at the WIDE type (a value that needs the extra precision)
    wh.append(
        "lab", "dec",
        spark.createDataFrame(
            [(2, Decimal("123456789012.99"))], "id int, amt decimal(14,2)"
        ).coalesce(1),
        batch_id="g2",
    )
    # append still at the old NARROW type upcasts silently
    wh.append(
        "lab", "dec",
        spark.createDataFrame(
            [(3, Decimal("0.01"))], "id int, amt decimal(10,2)"
        ).coalesce(1),
        batch_id="g3",
    )
    got = sorted((r.id, r.amt) for r in wh.read("lab", "dec").collect())
    assert got == [
        (1, Decimal("12.34")),
        (2, Decimal("123456789012.99")),
        (3, Decimal("0.01")),
    ]
    # refusals: scale change, precision shrink, cross-family
    with pytest.raises(ValueError, match="widenings"):
        wh.widen_column("lab", "dec", "amt", "decimal(16,3)")
    with pytest.raises(ValueError, match="widenings"):
        wh.widen_column("lab", "dec", "amt", "decimal(10,2)")
    with pytest.raises(ValueError, match="widenings"):
        wh.widen_column("lab", "dec", "amt", "double")
    # a second growth stacks fine; time travel keeps the old type
    wh.widen_column("lab", "dec", "amt", "decimal(20,2)")
    assert dict(wh.read("lab", "dec").dtypes)["amt"] == "decimal(20,2)"
    assert dict(wh.read_snapshot("lab", "dec", 1).dtypes)["amt"] == "decimal(10,2)"
