"""One head format: the snapshot log reads exactly the layout today's
writers produce and refuses every other one at load.

- Every head file carries ``version``, ``ts``, ``last_seq``,
  ``segments``, ``total_rows``, ``total_bytes``, ``schemas`` and
  ``schema_id``, and never an inline ``files`` or ``deletes`` list.
- A position-delete entry records ``targets`` and ``target_counts``; an
  equality-delete entry records ``eq_cols`` and ``eq_ids`` and no
  ``targets`` (it is scoped by sequence number).
- A head or delete entry in any other layout raises ``ValueError``
  naming the table and the snapshot version, from reads, counts,
  appends, expiry and the orphan sweep alike — and nothing is deleted.
- A raw first ``commit_snapshot`` (files, no ``schema_fields``) records
  the first file's footer schema (plus its hive partition columns) as
  schema 0.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

HEAD_KEYS = {
    "version", "ts", "last_seq", "segments", "total_rows", "total_bytes",
    "schemas", "schema_id",
}


def _assert_current_layout(wh: ParquetWarehouse, schema: str, table: str) -> int:
    """Check every head file of every ref, and every delete entry they
    reference, against the current layout — parsed straight from disk.
    Returns the number of heads checked."""
    snap_dir = wh._snap_dir(schema, table)
    ref_dirs = [snap_dir] + [
        os.path.join(snap_dir, d)
        for d in os.listdir(snap_dir)
        if d.startswith("branch_")
    ]
    n = 0
    for d in ref_dirs:
        for fn in sorted(os.listdir(d)):
            if not re.fullmatch(r"v\d{6}\.json", fn):
                continue
            with open(os.path.join(d, fn)) as f:
                head = json.load(f)
            assert HEAD_KEYS <= set(head), (fn, HEAD_KEYS - set(head))
            assert "files" not in head and "deletes" not in head, fn
            assert str(head["schema_id"]) in head["schemas"], fn
            for r in head.get("delete_segments", []):
                with open(os.path.join(snap_dir, r["path"])) as f:
                    ents = json.load(f)["files"]
                for e in ents:
                    assert "seq" in e, e
                    if e["kind"] == "pos":
                        assert {"targets", "target_counts"} <= set(e), e
                    else:
                        assert e["kind"] == "eq", e
                        assert {"eq_cols", "eq_ids"} <= set(e), e
                        assert "targets" not in e, e
            # and the loader's own validation accepts it
            branch = "main" if d == snap_dir else os.path.basename(d)[7:]
            h = wh._load_head_light(schema, table, head["version"], branch)
            wh._head_deletes(schema, table, h)
            n += 1
    return n


def test_every_head_writer_writes_the_current_layout(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "hf", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["grp"],
    )

    def batch(lo: int, n: int, extra: bool = False):
        rows = [(i, f"g{i % 3}", i * 10) for i in range(lo, lo + n)]
        ddl = "id int, grp string, v int"
        if extra:
            rows = [r + (i,) for i, r in enumerate(rows)]
            ddl += ", x int"
        return spark.createDataFrame(rows, ddl).coalesce(1)

    ops: list[str] = []

    def did(op: str, before: int, ref: str = "main") -> None:
        after = wh._latest_version("lab", "hf", ref)
        assert after is not None and after > (before or 0), op
        ops.append(op)

    v = wh._latest_version("lab", "hf")
    wh.append("lab", "hf", batch(0, 30), batch_id="b0")
    did("append", v)
    v = wh._latest_version("lab", "hf")
    wh.delete_where("lab", "hf", "v = 20", mode="merge-on-read")
    did("delete_where(merge-on-read)", v)
    v = wh._latest_version("lab", "hf")
    wh.delete_by_keys("lab", "hf", [5], eq_cols=["id"])
    did("delete_by_keys", v)
    v = wh._latest_version("lab", "hf")
    wh.update_where("lab", "hf", "id = 7", {"v": "v + 1"}, mode="copy-on-write")
    did("update_where(copy-on-write)", v)
    wh.append("lab", "hf", batch(30, 30), batch_id="b1")
    assert len(wh._head_light("lab", "hf")["segments"]) > 1
    v = wh._latest_version("lab", "hf")
    wh.rewrite_manifests("lab", "hf")
    did("rewrite_manifests", v)
    v = wh._latest_version("lab", "hf")
    wh.optimize("lab", "hf")
    did("optimize", v)
    v = wh._latest_version("lab", "hf")
    wh.add_column("lab", "hf", "x", "int")
    did("add_column", v)
    v = wh._latest_version("lab", "hf")
    wh.add_partition_field("lab", "hf", "bucket(2, id)")
    did("add_partition_field", v)

    # fast_forward: stage on a fresh branch, publish at the fork
    wh.create_branch("lab", "hf", "ff")
    did("create_branch", None, ref="ff")
    wh.append("lab", "hf", batch(100, 5, extra=True), batch_id="ff0", branch="ff")
    v = wh._latest_version("lab", "hf")
    wh.fast_forward("lab", "hf", "ff")
    did("fast_forward", v)

    # cherry_pick: main diverges, one branch commit replays
    wh.create_branch("lab", "hf", "cp")
    wh.append("lab", "hf", batch(200, 5, extra=True), batch_id="cp0", branch="cp")
    picked = wh._latest_version("lab", "hf", "cp")
    wh.append("lab", "hf", batch(300, 5, extra=True), batch_id="m0")
    v = wh._latest_version("lab", "hf")
    wh.cherry_pick("lab", "hf", "cp", picked)
    did("cherry_pick", v)

    # merge_branch after main moved: branch-only DDL is adopted first
    wh.create_branch("lab", "hf", "mb")
    wh.add_column("lab", "hf", "y", "int", branch="mb")
    wh.append(
        "lab", "hf",
        batch(400, 5, extra=True).withColumn("y", F.col("id")),
        batch_id="mb0", branch="mb",
    )
    wh.append("lab", "hf", batch(500, 5, extra=True), batch_id="m1")
    v = wh._latest_version("lab", "hf")
    wh.merge_branch("lab", "hf", "mb")
    did("merge_branch", v)
    assert any(
        h["operation"] == "merge_schema" for h in wh.history("lab", "hf")
    )

    v = wh._latest_version("lab", "hf")
    wh.rollback_to_snapshot("lab", "hf", 3)
    did("rollback_to_snapshot", v)

    assert ops == [
        "append", "delete_where(merge-on-read)", "delete_by_keys",
        "update_where(copy-on-write)", "rewrite_manifests", "optimize",
        "add_column", "add_partition_field", "create_branch",
        "fast_forward", "cherry_pick", "merge_branch",
        "rollback_to_snapshot",
    ]
    n = _assert_current_layout(wh, "lab", "hf")
    assert n >= wh._latest_version("lab", "hf")
    # history() reports every field for every head
    for h in wh.history("lab", "hf"):
        assert None not in (
            h["ts"], h["total_rows"], h["total_bytes"], h["segments"],
            h["schema_id"],
        ), h


def test_raw_first_commit_records_footer_schema(spark, tmp_path):
    """A first commit of raw files without ``schema_fields`` records
    schema 0 from the first file's footer — hive partition columns from
    its path included — and the table reads exactly the file's rows."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", "raw", "zstd", 1,
        properties={"snapshots": "true"}, partitioning=["grp"],
    )
    tdir = wh._tdir("lab", "raw")
    tab = pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "name": pa.array(["a", "b", None], pa.string()),
        "score": pa.array([0.5, 1.5, 2.5], pa.float64()),
        "day": pa.array([19000, 19001, 19002], pa.date32()),
    })
    paths = []
    for grp in ("x", "y"):
        d = os.path.join(tdir, "data", "b0", "g_raw", f"grp={grp}")
        os.makedirs(d)
        paths.append(os.path.join(d, "part-0.parquet"))
        pq.write_table(tab, paths[-1])
    m = wh.commit_snapshot("lab", "raw", "append", add_files=paths)
    assert m["schema_id"] == 0
    assert wh.table_schema("lab", "raw") == [
        {"id": 1, "name": "id", "type": "bigint"},
        {"id": 2, "name": "name", "type": "string"},
        {"id": 3, "name": "score", "type": "double"},
        {"id": 4, "name": "day", "type": "date"},
        {"id": 5, "name": "grp", "type": "string"},
    ]
    # the footer part equals Spark's own reading of the file
    direct = spark.read.parquet(paths[0])
    assert [
        (f.name, f.dataType.simpleString()) for f in direct.schema.fields
    ] == [(f["name"], f["type"]) for f in wh.table_schema("lab", "raw")[:4]]
    got = sorted(tuple(r) for r in wh.read("lab", "raw").collect())
    want = sorted(
        tuple(r) + (grp,)
        for grp in ("x", "y")
        for r in direct.collect()
    )
    assert got == want
    _assert_current_layout(wh, "lab", "raw")
    # no file and no schema: nothing to record schema 0 from
    wh.create_table("lab", "nofile", "zstd", 1, properties={"snapshots": "true"})
    with pytest.raises(ValueError, match="schema 0"):
        wh.commit_snapshot("lab", "nofile", "append", add_files=[])


def _rewrite_json(path: str, mutate) -> None:
    with open(path) as f:
        obj = json.load(f)
    mutate(obj)
    os.unlink(path)  # head files are hard-linked CAS artifacts
    with open(path, "w") as f:
        json.dump(obj, f)


def _entries(wh, ref: dict) -> list[dict]:
    with open(os.path.join(wh._snap_dir("lab", "t"), ref["path"])) as f:
        return json.load(f)["files"]


def _head_shape(mutate):
    def apply(wh, head_path, head):
        _rewrite_json(head_path, mutate(wh))
    return apply


def _entry_shape(kind, mutate):
    def apply(wh, head_path, head):
        for ref in head["delete_segments"]:
            seg = os.path.join(wh._snap_dir("lab", "t"), ref["path"])
            with open(seg) as f:
                if not any(d["kind"] == kind for d in json.load(f)["files"]):
                    continue

            def edit(obj):
                for d in obj["files"]:
                    if d["kind"] == kind:
                        mutate(d)

            _rewrite_json(seg, edit)
    return apply


def _inline_files(wh):
    def m(h):
        h["files"] = [e for r in h.pop("segments") for e in _entries(wh, r)]
    return m


def _inline_deletes(wh):
    def m(h):
        h["deletes"] = [
            d for r in h.pop("delete_segments") for d in _entries(wh, r)
        ]
    return m


def _drop(*keys):
    def m(_wh):
        def f(h):
            for k in keys:
                del h[k]
        return f
    return m


RETIRED_SHAPES = {
    "inline_files": _head_shape(_inline_files),
    "inline_deletes": _head_shape(_inline_deletes),
    "no_last_seq": _head_shape(_drop("last_seq")),
    "no_total_rows": _head_shape(_drop("total_rows")),
    "no_ts": _head_shape(_drop("ts")),
    "no_schemas": _head_shape(_drop("schemas", "schema_id")),
    "pos_without_target_counts": _entry_shape(
        "pos", lambda d: d.pop("target_counts")
    ),
    "eq_with_targets": _entry_shape(
        "eq", lambda d: d.update(targets=["data/b0/f.parquet"])
    ),
    "eq_without_eq_ids": _entry_shape("eq", lambda d: d.pop("eq_ids")),
}


@pytest.mark.parametrize("shape", sorted(RETIRED_SHAPES))
def test_retired_shapes_are_refused_and_never_collected(spark, tmp_path, shape):
    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(spark, root)
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    for i in range(2):
        wh.append(
            "lab", "t",
            spark.createDataFrame(
                [(i * 10 + j, j % 2) for j in range(10)], "id int, k int"
            ).coalesce(1),
            batch_id=f"b{i}",
        )
    wh.delete_where("lab", "t", "id = 3", mode="merge-on-read")  # pos, v3
    wh.delete_by_keys("lab", "t", [14], eq_cols=["id"])  # eq, v4
    head_v = wh._latest_version("lab", "t")
    assert head_v == 4
    head_path = os.path.join(wh._snap_dir("lab", "t"), f"v{head_v:06d}.json")
    with open(head_path) as f:
        head = json.load(f)
    RETIRED_SHAPES[shape](wh, head_path, head)
    tdir = wh._tdir("lab", "t")

    def on_disk() -> set[str]:
        return {
            os.path.join(b, fn) for b, _d, fns in os.walk(tdir) for fn in fns
        }

    before = on_disk()
    wh = ParquetWarehouse(spark, root)  # fresh segment cache
    # the delete-entry shapes live in segments that v3 (pos) or v4 (eq)
    # reference; the head shapes are on v4 only
    err = r"lab\.t snapshot v[34]\b.*unsupported"
    new_rows = spark.createDataFrame([(99, 0)], "id int, k int")
    calls = [
        lambda: wh.read("lab", "t").collect(),
        lambda: wh.count_rows("lab", "t"),
        lambda: wh.append("lab", "t", new_rows, batch_id="b9"),
        lambda: wh.expire_snapshots("lab", "t", keep_last=1),
        lambda: wh.remove_orphan_files("lab", "t", older_than_s=0),
    ]
    for call in calls:
        with pytest.raises(ValueError, match=err):
            call()
    assert before <= on_disk()  # no data, delete or segment file deleted
    assert wh._snapshot_versions("lab", "t") == [1, 2, 3, 4]
