"""Typed column-spec DSL for synthetic data generation.

Parity: reference ``src/types.ts:1-40`` (FieldSpec union + TableConfig).
The reference compiles these specs to Trino SQL strings
(``src/sqlHelpers.ts:3-98``); we compile them to Spark SQL expression text
(functions/generators.py) and to Spark DDL types.

Differences from the reference, on purpose:
- ``nullable`` is a probability (0-1), as in the reference (types.ts:5).
- Our generators are fully deterministic per (seed, row id) — the reference's
  row values used engine ``random()``/``uuid()`` and were unreproducible
  (SURVEY.md §2-A note); determinism is required for oracle checking.
- ``StringSpec.length > 32`` generates the full requested length; the
  reference silently truncated at 32 because one uuid only yields 32 hex
  chars (sqlHelpers.ts:41-43, visible in temp.md:21).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import types as T


@dataclass(frozen=True)
class IntSpec:
    min: int
    max: int
    nullable: float = 0.0
    kind: str = "int"


@dataclass(frozen=True)
class BigintSpec:
    min: int
    max: int
    nullable: float = 0.0
    kind: str = "bigint"


@dataclass(frozen=True)
class DoubleSpec:
    min: float
    max: float
    nullable: float = 0.0
    kind: str = "double"


@dataclass(frozen=True)
class StringSpec:
    length: int
    nullable: float = 0.0
    kind: str = "string"


@dataclass(frozen=True)
class DateSpec:
    start: str  # ISO date, inclusive
    end: str  # ISO date, inclusive
    nullable: float = 0.0
    kind: str = "date"


@dataclass(frozen=True)
class TimestampSpec:
    start: str  # ISO date/ts, inclusive
    end: str  # ISO date/ts, exclusive (uniform seconds in [start, end))
    nullable: float = 0.0
    kind: str = "timestamp"


@dataclass(frozen=True)
class EnumSpec:
    values: tuple[str, ...] | tuple[int, ...]
    base: str = "string"  # "string" | "int" | "bigint"  (types.ts:17-21)
    nullable: float = 0.0
    kind: str = "enum"


ScalarSpec = Union[
    IntSpec, BigintSpec, DoubleSpec, StringSpec, DateSpec, TimestampSpec, EnumSpec
]


@dataclass(frozen=True)
class ArraySpec:
    # element excludes ArraySpec: arrays cannot nest (types.ts:19)
    element: ScalarSpec
    min_len: int
    max_len: int
    nullable: float = 0.0
    kind: str = "array"


FieldSpec = Union[ScalarSpec, ArraySpec]


@dataclass
class TableConfig:
    """Parity: reference ``src/types.ts:31-40``."""

    catalog: str
    schema: str
    table_base: str
    columns: dict[str, FieldSpec]
    id_column: str = "id"
    format: str = "PARQUET"  # "PARQUET" | "ORC" | "AVRO" (types.ts:35)
    partitioning: list[str] = field(default_factory=list)
    table_properties: dict[str, str] = field(default_factory=dict)

    @property
    def base_table(self) -> str:
        return f"{self.table_base}_base"

    def qualified(self, table: str) -> str:
        return f"{self.schema}.{table}"


_SPARK_TYPES: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def spark_type(spec: FieldSpec) -> T.DataType:
    """DSL kind -> Spark type (reference sqlTypeOf, sqlHelpers.ts:3-27)."""
    if isinstance(spec, ArraySpec):
        return T.ArrayType(spark_type(spec.element))
    if isinstance(spec, EnumSpec):
        return _SPARK_TYPES[spec.base]
    return _SPARK_TYPES[spec.kind]


def ddl_type(spec: FieldSpec) -> str:
    return spark_type(spec).simpleString()


def struct_type(config: TableConfig) -> T.StructType:
    fields = []
    for name, spec in config.columns.items():
        nullable = name != config.id_column and getattr(spec, "nullable", 0.0) > 0
        fields.append(T.StructField(name, spark_type(spec), nullable))
    return T.StructType(fields)
