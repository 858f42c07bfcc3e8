"""The key-victim scan behind merge-on-read ``merge_upsert``: its
driver-side half (pyarrow reads the key columns of
the target files, physical row order = ``_metadata.row_index``) must
yield EXACTLY the (file_path, pos) tuples of the Spark half (the
delete-applied ``with_pos`` scan semi-joined with the keys), across the
shapes where the two could drift:

- a renamed key column (the files store the old name);
- an int -> bigint widened key (old files store int32);
- composite keys and string keys;
- a partitioned table with special-character partition values, and a
  key that is the identity-partition column (stored only in the path:
  the driver half declines and the Spark half answers);
- target files with pending position deletes (already-deleted rows are
  never victims again);
- key types outside ``_PA_TYPES`` (timestamp, double, decimal), which
  must route to the Spark scan;
- batches past the driver-scan bounds (too many candidate rows or keys),
  which route to the Spark scan too, their keys never on the driver.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse


def _tuples(tab) -> list[tuple]:
    return sorted(
        zip(tab.column("file_path").to_pylist(), tab.column("pos").to_pylist())
    )


def _both(wh, table: str, key_cols: list[str], keys: list[tuple]):
    """(driver tuples or None, Spark tuples) for ``keys`` over every live
    file of ``lab.<table>``."""
    head = wh._head_light("lab", table)
    targets = wh._materialize("lab", table, head)["files"]
    cur = {f["name"]: f["type"] for f in head["schemas"][str(head["schema_id"])]}
    driver = wh._local_key_victims("lab", table, head, targets, key_cols, keys)
    kdf = wh.spark.createDataFrame(keys, [f"c{i}" for i in range(len(key_cols))])
    kdf = kdf.select(*[
        F.col(f"c{i}").cast(cur[c]).alias(c) for i, c in enumerate(key_cols)
    ])
    spark_side = wh._key_victims(
        "lab", table, wh.table_meta("lab", table), head, targets, key_cols,
        None, kdf,
    )
    return (None if driver is None else _tuples(driver)), _tuples(spark_side)


def _delete_keys(wh, table: str, col: str, vals: list) -> dict:
    """Merge-on-read delete by key: an upsert batch of tombstones only,
    keyed on ``col``."""
    fields = wh.table_schema("lab", table)
    ddl = ", ".join(f"{f['name']} {f['type']}" for f in fields)
    rows = [
        tuple(v if f["name"] == col else None for f in fields) + (True,)
        for v in vals
    ]
    return wh.merge_upsert(
        "lab", table, wh.spark.createDataFrame(rows, ddl + ", dead boolean"),
        [col], delete_col="dead", mode="merge-on-read",
    )


def _table(spark, tmp_path, name, rows, ddl, partitioning=None):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "lab", name, "zstd", 1,
        properties={"snapshots": "true"}, partitioning=partitioning,
    )
    wh.append(
        "lab", name, spark.createDataFrame(rows, ddl).repartition(2),
        batch_id="b0",
    )
    return wh


def test_renamed_key_with_pending_deletes(spark, tmp_path):
    wh = _table(
        spark, tmp_path, "rn", [(i, i % 4, f"u{i % 5}") for i in range(40)],
        "id int, k int, u string",
    )
    wh.delete_where("lab", "rn", "id IN (3, 4, 30)", mode="merge-on-read")
    wh.rename_column("lab", "rn", "id", "doc_id")
    wh.append(
        "lab", "rn",
        spark.createDataFrame([(3, 0, "re"), (99, 1, "x")], "doc_id int, k int, u string"),
        batch_id="b1",
    )
    keys = [(3,), (4,), (5,), (30,), (31,), (99,), (1000,)]
    driver, spark_side = _both(wh, "rn", ["doc_id"], keys)
    assert driver == spark_side
    # 3 (re-appended), 5, 31, 99: the pending deletes already hold 3/4/30
    assert len(spark_side) == 4


def test_widened_key(spark, tmp_path):
    wh = _table(
        spark, tmp_path, "wd", [(i, i % 3) for i in range(30)], "id int, k int"
    )
    wh.update_column_type("lab", "wd", "id", "bigint")
    wh.append(
        "lab", "wd",
        spark.createDataFrame([(2**40, 0), (7, 1)], "id bigint, k int"),
        batch_id="b1",
    )
    keys = [(7,), (2**40,), (29,), (2**41,)]
    driver, spark_side = _both(wh, "wd", ["id"], keys)
    assert driver == spark_side
    assert len(spark_side) == 4  # 7 twice (old int file + new bigint file)


def test_composite_and_string_keys(spark, tmp_path):
    wh = _table(
        spark, tmp_path, "cs",
        [(i, i % 4, f"u{i % 5}", dt.date(2024, 1, 1 + i % 9)) for i in range(60)],
        "id int, k int, u string, d date",
    )
    wh.delete_where("lab", "cs", "id = 6", mode="merge-on-read")
    keys = [(2, "u2"), (1, "u1"), (3, "u0"), (2, "u4"), (9, "u9")]
    driver, spark_side = _both(wh, "cs", ["k", "u"], keys)
    assert driver == spark_side and spark_side
    keys = [("u3",), ("u0",), ("zz",)]
    driver, spark_side = _both(wh, "cs", ["u"], keys)
    assert driver == spark_side and len(spark_side) == 24
    keys = [(dt.date(2024, 1, 3), 2), (dt.date(2024, 1, 4), 3)]
    driver, spark_side = _both(wh, "cs", ["d", "k"], keys)
    assert driver == spark_side and spark_side


def test_special_char_partitions_and_partition_keys(spark, tmp_path):
    vals = ["a b", "p%q", "x+y", "k=v", "c:d", "plain"]
    wh = _table(
        spark, tmp_path, "sp",
        [(i, vals[i % len(vals)], i * 10) for i in range(36)],
        "id int, grp string, v int", partitioning=["grp"],
    )
    wh.delete_where("lab", "sp", "id IN (0, 7)", mode="merge-on-read")
    keys = [(i,) for i in range(0, 36, 5)]
    driver, spark_side = _both(wh, "sp", ["id"], keys)
    assert driver == spark_side and len(spark_side) == 7  # id 0 is gone
    # the identity-partition column lives only in the path: the driver
    # half declines, the Spark half answers
    driver, spark_side = _both(wh, "sp", ["grp"], [("a b",), ("p%q",)])
    assert driver is None
    assert len(spark_side) == 10  # 12 rows, ids 0 and 7 already deleted
    out = _delete_keys(wh, "sp", "grp", ["a b", "p%q"])
    assert out["rows_deleted"] == 10
    got = {r["grp"] for r in wh.read("lab", "sp").collect()}
    assert got == {"x+y", "k=v", "c:d", "plain"}


def test_unmapped_key_types_take_the_spark_scan(spark, tmp_path, monkeypatch):
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    wh = _table(
        spark, tmp_path, "um",
        [
            (i, t0 + dt.timedelta(minutes=i), i / 4, Decimal(i) / 10)
            for i in range(20)
        ],
        "id int, ts timestamp, x double, m decimal(10,2)",
    )

    def refuse(*a, **k):
        raise AssertionError("the driver-side scan ran for an unmapped type")

    monkeypatch.setattr(ParquetWarehouse, "_local_key_victims", refuse)
    for col, vals in (
        ("ts", [t0 + dt.timedelta(minutes=3), t0 + dt.timedelta(minutes=11)]),
        ("x", [0.5, 2.5]),
        ("m", [Decimal("0.40"), Decimal("1.50")]),
    ):
        out = _delete_keys(wh, "um", col, vals)
        assert out["rows_deleted"] == 2, col
    got = sorted(r["id"] for r in wh.read("lab", "um").collect())
    assert got == sorted(set(range(20)) - {3, 11, 2, 10, 4, 15})


def test_bounds_and_key_frames_take_the_spark_scan(spark, tmp_path, monkeypatch):
    """Candidate files holding more than ``MOR_LOCAL_SCAN_ROWS_MAX`` rows
    (keys spread over a large table) or more than
    ``MOR_LOCAL_DELETE_KEYS_MAX`` keys send the victim scan to the Spark
    semi-join, for tombstones and replaced keys alike; past the key bound
    the keys never come to the driver.  Same rows either way."""
    wh = _table(
        spark, tmp_path, "bd", [(i, i % 3) for i in range(40)], "id int, k int"
    )
    seen = []
    real = ParquetWarehouse._key_victims

    def spy(self, *a, **k):
        seen.append(a[6])  # the local keys, None for a key frame
        return real(self, *a, **k)

    def refuse(*a, **k):
        raise AssertionError("the driver-side scan ran past its bounds")

    monkeypatch.setattr(ParquetWarehouse, "_key_victims", spy)
    monkeypatch.setattr(ParquetWarehouse, "_local_key_victims", refuse)
    with monkeypatch.context() as m:
        m.setattr(ParquetWarehouse, "MOR_LOCAL_SCAN_ROWS_MAX", 0)
        assert _delete_keys(wh, "bd", "id", [1, 21])["rows_deleted"] == 2
        wh.merge_upsert(
            "lab", "bd",
            spark.createDataFrame([(5, 9), (6, 9), (77, 9)], "id int, k int"),
            ["id"], mode="merge-on-read",
        )
    with monkeypatch.context() as m:
        m.setattr(ParquetWarehouse, "MOR_LOCAL_DELETE_KEYS_MAX", 1)
        assert _delete_keys(wh, "bd", "id", [2, 22])["rows_deleted"] == 2
        assert seen[-1] is None
        out = _delete_keys(wh, "bd", "id", [3, 23, 500])
        assert (out["deletes"], out["rows_deleted"]) == (3, 2)
        assert seen[-1] is None
    got = {r["id"]: r["k"] for r in wh.read("lab", "bd").collect()}
    assert sorted(got) == sorted(
        set(range(40)) - {1, 21, 2, 22, 3, 23} | {77}
    )
    assert got[5] == got[6] == got[77] == 9
    assert wh.count_rows("lab", "bd") == len(got)
