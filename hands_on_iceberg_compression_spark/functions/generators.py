"""FieldSpec -> Spark SQL text compiler (the data-generation operator core).

Parity: reference ``src/sqlHelpers.ts:28-98`` (columnExpr + helpers, operators
A1-A13 in SURVEY.md §2).  Like the reference, each spec compiles to one SQL
expression string, and a batch is ``SELECT <one expression per column> FROM
range(...)``, handed to Spark in one ``selectExpr`` call.  A ``Column`` tree
would cost a py4j round trip per node: a wide batch took about 21k calls.

The reference drew from engine ``random()``/``uuid()`` — *unseeded*, so
generated rows were unreproducible.  We instead derive every random draw
from ``xxhash64(id, column, salt, seed)``, which is:

- deterministic per (seed, column, row id) — replayable for oracle checks,
  independent of partitioning, task retries, and executor count (``rand``
  is none of those: it depends on partition layout, which changes at scale);
- JVM-side and whole-stage-codegen friendly (no Python in the hot path), so a
  1000-executor load is pure codegen over ``spark.range``.

Literal types are part of the values: xxhash64 hashes an INT in 4 bytes and
a BIGINT in 8, so every Python int is written bare (INT below 2**31, BIGINT
above, as Spark types it) and every Python float with a ``D`` suffix (a
bare ``0.5`` is a DECIMAL in Spark SQL).

The reference's 10k-sequence CTE dance to synthesize row ids
(sqlHelpers.ts:160-212, operator A12) collapses to ``spark.range``.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession

from hands_on_iceberg_compression_spark.schema.specs import (
    ArraySpec,
    BigintSpec,
    DateSpec,
    DoubleSpec,
    EnumSpec,
    FieldSpec,
    IntSpec,
    StringSpec,
    TableConfig,
    TimestampSpec,
)

# Uniform-draw denominator.  This is an ABSOLUTE lattice: floor(u * span)
# can only reach _U_DEN distinct values, so it must comfortably exceed any
# realistic spec span (a 2**30 grid would alias large BigintSpec ranges to
# ~1e9 lattice points).  2**40 is exact in a double and leaves modulo bias
# at a negligible 2**-24.
_U_DEN = 1 << 40

_ID = "id"  # the spark.range column every expression draws from
_ELEM = "__i"  # the array lambda's 1-based slot index


def _str(s: str) -> str:
    """SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lit(v) -> str:
    """SQL literal of the type ``F.lit(v)`` would give: INT/BIGINT for ints,
    DOUBLE for floats, STRING for strings."""
    if isinstance(v, str):
        return _str(v)
    if isinstance(v, float):
        return f"{v!r}D"
    return str(int(v))


def _uniform(row_id: str, name: str, salt: str, seed: int, *extra: str) -> str:
    """Deterministic U[0,1) from (row id, column name, salt, seed, extras).

    pmod (not abs) so xxhash64's Long.MIN_VALUE cannot overflow under ANSI.
    """
    args = ", ".join([row_id, _str(name), _str(salt), _lit(seed), *extra])
    return f"(CAST(pmod(xxhash64({args}), {_U_DEN}) AS DOUBLE) / {_lit(float(_U_DEN))})"


def _int_expr(spec: IntSpec | BigintSpec, u: str) -> str:
    # A1/A2: uniform integer in [min, max] inclusive (sqlHelpers.ts:33-36,69-73)
    span = spec.max - spec.min
    kind = "INT" if spec.kind == "int" else "BIGINT"
    return f"CAST({_lit(spec.min)} + CAST(floor({u} * {_lit(span + 1)}) AS BIGINT) AS {kind})"


def _double_expr(spec: DoubleSpec, u: str) -> str:
    # A3: uniform double in [min, max), rounded to 6 dp (sqlHelpers.ts:37-40,74-78)
    return f"round({_lit(spec.min)} + {u} * {_lit(spec.max - spec.min)}, 6)"


def _string_expr(spec: StringSpec, row_id: str, name: str, seed: int, *extra: str) -> str:
    # A4: random lowercase-hex string of exactly `length` chars.  The reference
    # used substr(uuid-hex, 1, len) and silently truncated at 32
    # (sqlHelpers.ts:41-43; temp.md:21 shows row_32 len 35 -> 32 chars).  We
    # chain as many md5 blocks as needed, so length > 32 is honored.
    blocks = []
    for b in range((spec.length + 31) // 32):
        parts = [f"CAST({row_id} AS STRING)", _str(name), _str(f"str{b}"), _str(str(seed))]
        parts += [f"CAST({c} AS STRING)" for c in extra]
        blocks.append(f"md5(concat_ws('|', {', '.join(parts)}))")
    return f"substring(concat({', '.join(blocks)}), 1, {spec.length})"


def _enum_expr(spec: EnumSpec, u: str) -> str:
    # A5: uniform pick from the literal dictionary (sqlHelpers.ts:44-52).
    # u < 1 strictly, so the 1-based index is always within [1, n] — safe
    # under ANSI element_at.
    arr = ", ".join(_lit(v) for v in spec.values)
    return f"element_at(array({arr}), CAST(floor({u} * {len(spec.values)}) + 1 AS INT))"


def _parse_ts(s: str) -> _dt.datetime:
    d = _dt.datetime.fromisoformat(s)
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return d


def _timestamp_expr(spec: TimestampSpec, u: str) -> str:
    # A6: uniform whole-second timestamp in [start, end) (sqlHelpers.ts:58-60)
    s = int(_parse_ts(spec.start).timestamp())
    e = int(_parse_ts(spec.end).timestamp())
    return f"timestamp_seconds({_lit(s)} + CAST(floor({u} * {_lit(e - s)}) AS BIGINT))"


def _date_expr(spec: DateSpec, u: str) -> str:
    # A7: uniform date in [start, end] inclusive (sqlHelpers.ts:53-57,61-64);
    # day span computed host-side like the reference's daysBetween.
    start = _dt.date.fromisoformat(spec.start)
    end = _dt.date.fromisoformat(spec.end)
    dspan = (end - start).days
    return f"date_add(CAST({_str(spec.start)} AS DATE), CAST(floor({u} * {_lit(dspan + 1)}) AS INT))"


def _scalar_expr(spec: FieldSpec, row_id: str, name: str, seed: int, *extra: str) -> str:
    u = _uniform(row_id, name, "val", seed, *extra)
    if isinstance(spec, (IntSpec, BigintSpec)):
        return _int_expr(spec, u)
    if isinstance(spec, DoubleSpec):
        return _double_expr(spec, u)
    if isinstance(spec, StringSpec):
        return _string_expr(spec, row_id, name, seed, *extra)
    if isinstance(spec, EnumSpec):
        return _enum_expr(spec, u)
    if isinstance(spec, TimestampSpec):
        return _timestamp_expr(spec, u)
    if isinstance(spec, DateSpec):
        return _date_expr(spec, u)
    raise TypeError(f"unsupported scalar spec: {spec!r}")


def column_sql(spec: FieldSpec, name: str, seed: int = 1, elem_id: str = _ID) -> str:
    """A10 dispatcher: compile one FieldSpec to a SQL expression over the
    ``id`` column (sqlHelpers.ts:65-98).  ``elem_id`` is the row id that
    array elements draw from (see ``generate_df``)."""
    if isinstance(spec, ArraySpec):
        # A8: random-length array via sequence + transform (sqlHelpers.ts:87-94);
        # the element expression re-hashes with the lambda index so every slot
        # draws independently.
        u_len = _uniform(_ID, name, "len", seed)
        span = spec.max_len - spec.min_len
        n = f"CAST({_lit(spec.min_len)} + floor({u_len} * {_lit(span + 1)}) AS INT)"
        elem = _scalar_expr(spec.element, elem_id, name, seed, _ELEM)
        expr = f"transform(sequence(1, {n}), {_ELEM} -> {elem})"
    else:
        expr = _scalar_expr(spec, _ID, name, seed)

    p = getattr(spec, "nullable", 0.0)
    if p and p > 0:
        # A9 wrapNullable (sqlHelpers.ts:28-32), with an independent draw
        u_null = _uniform(_ID, name, "null", seed)
        expr = f"CASE WHEN {u_null} < {_lit(float(p))} THEN NULL ELSE {expr} END"
    return expr


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def rows_df(
    spark: SparkSession, start_id: int, num_rows: int, num_partitions: int | None = None
) -> DataFrame:
    """A11/A12 row source: ids [start_id, start_id + num_rows).

    Replaces the reference's UNNEST-sequence workaround for Trino's 10k
    sequence cap (sqlHelpers.ts:182-211).  numPartitions controls write
    parallelism — size it so each task writes ~a parquet row group.
    """
    return spark.range(start_id, start_id + num_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)


def generate_df(
    spark: SparkSession,
    config: TableConfig,
    start_id: int = 1,
    num_rows: int = 1000,
    seed: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full generated batch: SELECT <columnExpr per column> FROM range(...).

    Parity: the SELECT list of buildInsertSQL (sqlHelpers.ts:160-212, C1).
    """
    exprs = []
    elem_id = _ID
    for name, spec in config.columns.items():
        if name == config.id_column:
            kind = spec.kind if spec.kind in ("int", "bigint") else "bigint"
            sql = f"CAST({_ID} AS {kind.upper()})"
        else:
            sql = column_sql(spec, name, seed, elem_id)
        exprs.append(f"{sql} AS {_quote(name)}")
        if name.lower() == _ID:
            # Array elements after this item hash it, not the range column
            # (an INT id hashes in 4 bytes): the Column-built generator's
            # lambdas resolved `id` to it as a lateral column alias, and the
            # golden pin in tests/test_generator_golden.py holds its values.
            elem_id = sql
    return rows_df(spark, start_id, num_rows, num_partitions).selectExpr(*exprs)
