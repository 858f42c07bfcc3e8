"""Property tests for manifest pruning's ONE inviolable contract:
``read_pruned(...).filter(p)`` equals ``read(...).filter(p)`` — i.e.
``prune_files`` may over-KEEP but must never drop a file whose recorded
bounds/partition value could intersect the requested range (ADVICE r4
found a tz-normalization violation of exactly this; these tests hammer
the whole encode→store→compare pipeline with randomized typed inputs,
no Spark session needed — pruning is pure manifest logic).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import tempfile
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from hands_on_iceberg_compression_spark.sources.warehouse import ParquetWarehouse

UTC = dt.timezone.utc


@contextlib.contextmanager
def _mk_log_table(entries: list[dict]):
    """A throwaway log-mode table whose head's one segment lists
    ``entries`` verbatim — prune_files never opens data files, so none
    exist.  Context-managed so hypothesis's hundreds of examples don't
    litter /tmp with a dir each."""
    root = tempfile.mkdtemp(prefix="prune_prop_")
    wh = ParquetWarehouse(None, root)  # spark unused by pruning paths
    wh.create_table("lab", "t", "zstd", 1, properties={"snapshots": "true"})
    snap_dir = wh._snap_dir("lab", "t")
    os.makedirs(snap_dir, exist_ok=True)
    seg = wh._write_segment("lab", "t", [{**e, "seq": 1} for e in entries])
    cols = sorted(
        {c for e in entries for c in (*e.get("bounds", {}), *e.get("partitions", {}))}
    )
    manifest = {
        "version": 1,
        "parent": None,
        "operation": "append",
        "ts": time.time(),
        "last_seq": 1,
        "segments": [seg],
        "total_rows": seg["rows"],
        "total_bytes": seg["bytes"],
        "schemas": {
            "0": [
                {"id": i + 1, "name": c, "type": "string"}
                for i, c in enumerate(cols)
            ]
        },
        "schema_id": 0,
    }
    with open(os.path.join(snap_dir, "v000001.json"), "w") as f:
        json.dump(manifest, f)
    try:
        yield wh
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _norm(v):
    """Independent truth-domain normalization: aware datetimes are the
    same instant as their naive-UTC form (the repo pins a UTC session)."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(UTC).replace(tzinfo=None)
    return v


def _intersects(blo, bhi, qlo, qhi) -> bool:
    """Truth: could a value in [blo, bhi] fall inside [qlo, qhi]?"""
    blo, bhi, qlo, qhi = _norm(blo), _norm(bhi), _norm(qlo), _norm(qhi)
    if qlo is not None and bhi < qlo:
        return False
    if qhi is not None and blo > qhi:
        return False
    return True


# source-domain value strategies per column type; bounds and endpoints are
# drawn from the SAME domain so intersection truth is well-defined
_naive_dt = st.datetimes(
    min_value=dt.datetime(2000, 1, 1), max_value=dt.datetime(2049, 12, 31)
)
_aware_dt = _naive_dt.map(lambda d: d.replace(tzinfo=UTC))
_DOMAINS = {
    "int": st.integers(-(10**9), 10**9),
    "float": st.floats(
        allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
    ),
    "str": st.text(min_size=0, max_size=40),
    # bounds as pyarrow stats deliver them (tz-AWARE, isAdjustedToUTC)
    # while query endpoints may arrive naive or aware — the ADVICE r4 case
    "ts": st.one_of(_naive_dt, _aware_dt),
    "date": st.dates(dt.date(2000, 1, 1), dt.date(2049, 12, 31)),
}


@st.composite
def _bounds_case(draw):
    kind = draw(st.sampled_from(sorted(_DOMAINS)))
    vals = _DOMAINS[kind]
    files = []
    for i in range(draw(st.integers(1, 6))):
        a, b = draw(vals), draw(vals)
        blo, bhi = min(a, b, key=_norm), max(a, b, key=_norm)
        files.append((f"data/b{i}/f.parquet", blo, bhi))
    a, b = draw(vals), draw(vals)
    qlo, qhi = min(a, b, key=_norm), max(a, b, key=_norm)
    if draw(st.booleans()):
        qlo = None
    if draw(st.booleans()):
        qhi = None
    return kind, files, qlo, qhi


@settings(max_examples=150, deadline=None)
@given(_bounds_case())
def test_bounds_pruning_never_drops_an_intersecting_file(case):
    """For every column type (including the aware-bounds/naive-endpoint
    timestamp mix), a file whose [lower, upper] could contain a value in
    the query range MUST survive pruning."""
    kind, files, qlo, qhi = case
    enc = ParquetWarehouse._json_bound  # what commit_snapshot stores
    entries = [
        {
            "path": p,
            "bytes": 1,
            "rows": 1,
            "bounds": {"c": [
                ParquetWarehouse._trunc_lower(enc(blo)),
                ParquetWarehouse._trunc_upper(enc(bhi)),
            ]},
        }
        for p, blo, bhi in files
    ]
    with _mk_log_table(entries) as wh:
        kept, total = wh.prune_files("lab", "t", {"c": (qlo, qhi)})
        assert total == len(files)
        kept_rel = {os.path.relpath(k, wh._tdir("lab", "t")) for k in kept}
        for p, blo, bhi in files:
            if _intersects(blo, bhi, qlo, qhi):
                assert p in kept_rel, (
                    f"over-pruned {kind}: bounds [{blo!r}, {bhi!r}] "
                    f"intersects range [{qlo!r}, {qhi!r}]"
                )


@st.composite
def _partition_case(draw):
    kind = draw(st.sampled_from(["bucket", "day"]))
    if kind == "bucket":
        pvs = [str(draw(st.integers(0, 64))) for _ in range(draw(st.integers(1, 6)))]
        a, b = draw(st.integers(0, 64)), draw(st.integers(0, 64))
        lo, hi = min(a, b), max(a, b)
        if draw(st.booleans()):  # digit-string endpoints must behave like ints
            lo, hi = str(lo), str(hi)
    else:
        days = st.dates(dt.date(2020, 1, 1), dt.date(2029, 12, 31))
        pvs = [str(draw(days)) for _ in range(draw(st.integers(1, 6)))]
        a, b = str(draw(days)), str(draw(days))
        lo, hi = min(a, b), max(a, b)
    return kind, pvs, lo, hi


@settings(max_examples=150, deadline=None)
@given(_partition_case())
def test_partition_pruning_never_drops_a_matching_file(case):
    """Partition-value pruning under its documented semantics: all-digit
    dir encodings compare numerically (never lexicographically — the
    '10' < '2' ADVICE r4 trap), ISO-day strings chronologically."""
    kind, pvs, lo, hi = case
    entries = [
        {"path": f"data/b{i}/k={pv}/f.parquet", "bytes": 1, "rows": 1,
         "partitions": {"k": pv}}
        for i, pv in enumerate(pvs)
    ]
    with _mk_log_table(entries) as wh:
        kept, total = wh.prune_files("lab", "t", {"k": (lo, hi)})
        kept_rel = {os.path.relpath(k, wh._tdir("lab", "t")) for k in kept}
        for e, pv in zip(entries, pvs):
            if kind == "bucket":
                matches = int(lo) <= int(pv) <= int(hi)
            else:
                matches = lo <= pv <= hi
            if matches:
                assert e["path"] in kept_rel, (
                    f"over-pruned {kind} partition {pv!r} for range "
                    f"[{lo!r}, {hi!r}]"
                )
        # and a type-mismatched range must keep EVERYTHING (conservative)
        kept2, _ = wh.prune_files("lab", "t", {"k": (object(), object())})
        assert len(kept2) == total


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=0, max_size=80))
def test_string_truncation_bound_invariants(v):
    """Truncated bounds must still BE bounds: lower <= v <= upper, both
    valid Unicode (UTF-8 encodable — the lone-surrogate ADVICE r4 case),
    and truncation actually caps the stored length."""
    lo = ParquetWarehouse._trunc_lower(v)
    up = ParquetWarehouse._trunc_upper(v)
    assert lo <= v <= up
    assert len(lo) <= max(len(v), 32)
    lo.encode("utf-8")
    up.encode("utf-8")


@settings(max_examples=300, deadline=None)
@given(
    st.sampled_from(["int", "float", "str", "ts", "date"]).flatmap(
        lambda k: st.tuples(st.just(k), _DOMAINS[k], _DOMAINS[k])
    )
)
def test_json_bound_encoding_is_order_preserving(case):
    """The stored encoding must order exactly like the source domain —
    the property every bounds comparison in prune_files rests on."""
    _kind, a, b = case
    ea, eb = ParquetWarehouse._json_bound(a), ParquetWarehouse._json_bound(b)
    if _norm(a) < _norm(b):
        assert ea < eb
    elif _norm(a) > _norm(b):
        assert ea > eb
    else:
        assert ea == eb
