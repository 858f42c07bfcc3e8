"""Property tests for predicate-derived pruning's inviolable contract:
for ANY condition, the ranges ``_auto_ranges`` derives may only ever
KEEP extra files — a file holding a row that satisfies the condition
must never be pruned.  Pure manifest logic, no Spark session: the
condition's truth is evaluated over explicit per-file value sets in
Python, then compared against ``prune_files`` over the derived ranges
(the exact pipeline ``delete_where``/``read_where`` run).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from hands_on_iceberg_compression_spark.sources.warehouse import (
    ParquetWarehouse,
    ranges_from_condition,
)

_INT_FIELDS = [{"id": 1, "name": "v", "type": "int"}]


@contextlib.contextmanager
def _mk_table(entries: list[dict], schemas, schema_id=0):
    root = tempfile.mkdtemp(prefix="pred_prop_")
    wh = ParquetWarehouse(None, root)
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    snap_dir = wh._snap_dir("lab", "t")
    os.makedirs(snap_dir, exist_ok=True)
    seg = wh._write_segment("lab", "t", [{**e, "seq": 1} for e in entries])
    manifest = {
        "version": 1,
        "parent": None,
        "operation": "append",
        "ts": time.time(),
        "last_seq": 1,
        "segments": [seg],
        "total_rows": seg["rows"],
        "total_bytes": seg["bytes"],
        "schemas": schemas,
        "schema_id": schema_id,
    }
    with open(os.path.join(snap_dir, "v000001.json"), "w") as f:
        json.dump(manifest, f)
    try:
        yield wh, manifest
    finally:
        shutil.rmtree(root, ignore_errors=True)


_vals = st.integers(-50, 50)


@st.composite
def _conjunct(draw):
    """One grammar term over column v: (render, python_predicate)."""
    kind = draw(st.sampled_from(["cmp", "between", "in"]))
    if kind == "cmp":
        op = draw(st.sampled_from(["=", "==", "<", "<=", ">", ">="]))
        lit = draw(_vals)
        py = {
            "=": lambda x: x == lit, "==": lambda x: x == lit,
            "<": lambda x: x < lit, "<=": lambda x: x <= lit,
            ">": lambda x: x > lit, ">=": lambda x: x >= lit,
        }[op]
        if draw(st.booleans()):
            flipped = {"<": ">", ">": "<", "<=": ">=", ">=": "<=",
                       "=": "=", "==": "=="}[op]
            return f"{lit} {flipped} v", py
        return f"v {op} {lit}", py
    if kind == "between":
        a, b = sorted((draw(_vals), draw(_vals)))
        return f"v BETWEEN {a} AND {b}", lambda x: a <= x <= b
    vals = draw(st.lists(_vals, min_size=1, max_size=4))
    lits = ", ".join(str(v) for v in vals)
    return f"v IN ({lits})", lambda x: x in vals


@st.composite
def _case(draw):
    files = [
        sorted(draw(st.lists(_vals, min_size=1, max_size=4)))
        for _ in range(draw(st.integers(1, 5)))
    ]
    terms = draw(st.lists(_conjunct(), min_size=1, max_size=3))
    return files, terms


@settings(max_examples=200, deadline=None)
@given(_case())
def test_auto_ranges_never_prune_a_satisfiable_file(case):
    files, terms = case
    condition = " AND ".join(t[0] for t in terms)
    entries = [
        {
            "path": f"data/b{i}/f.parquet",
            "bytes": 1,
            "rows": len(vs),
            "sid": 0,
            "bounds": {"v": [vs[0], vs[-1]]},
        }
        for i, vs in enumerate(files)
    ]
    with _mk_table(entries, schemas={"0": _INT_FIELDS}) as (wh, manifest):
        head = wh._head_light("lab", "t")
        ranges = wh._auto_ranges(condition, head)
        if ranges is None:
            return  # no pruning at all — trivially safe
        kept, total = wh.prune_files("lab", "t", ranges)
        assert total == len(files)
        kept_rel = {os.path.relpath(k, wh._tdir("lab", "t")) for k in kept}
        for e, vs in zip(entries, files):
            satisfiable = any(all(t[1](x) for t in terms) for x in vs)
            if satisfiable:
                assert e["path"] in kept_rel, (
                    f"over-pruned: values {vs} satisfy {condition!r} but "
                    f"derived ranges {ranges} dropped the file"
                )


@settings(max_examples=200, deadline=None)
@given(_case())
def test_auto_ranges_resolve_renamed_bounds(case):
    """Same contract when the column was RENAMED after the files were
    written: bounds live under the old name, the condition uses the new
    one, and the field-id map must bridge them (never over-prune)."""
    files, terms = case
    condition = " AND ".join(t[0] for t in terms)
    entries = [
        {
            "path": f"data/b{i}/f.parquet",
            "bytes": 1,
            "rows": len(vs),
            "sid": 0,
            "bounds": {"old_v": [vs[0], vs[-1]]},
        }
        for i, vs in enumerate(files)
    ]
    schemas = {
        "0": [{"id": 1, "name": "old_v", "type": "int"}],
        "1": [{"id": 1, "name": "v", "type": "int"}],
    }
    with _mk_table(entries, schemas=schemas, schema_id=1) as (wh, _m):
        head = wh._head_light("lab", "t")
        ranges = wh._auto_ranges(condition, head)
        if ranges is None:
            return
        kept, _total = wh.prune_files("lab", "t", ranges)
        kept_rel = {os.path.relpath(k, wh._tdir("lab", "t")) for k in kept}
        for e, vs in zip(entries, files):
            if any(all(t[1](x) for t in terms) for x in vs):
                assert e["path"] in kept_rel


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_ranges_from_condition_never_crashes(s):
    """Arbitrary garbage must yield None or a well-formed ranges dict —
    never an exception (delete_where feeds user input through this)."""
    out = ranges_from_condition(s)
    if out is not None:
        assert isinstance(out, dict) and out
        for col, spec in out.items():
            assert isinstance(col, str)
            assert isinstance(spec, (tuple, list))
