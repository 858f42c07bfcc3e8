"""Golden pin of ``generate_df``'s output: the row count, an order-free
content hash and the exact schema for fixed configs and seeds.

The values were recorded from the ``Column``-built generator; any rewrite
of the generator must reproduce them bit for bit.  The seeds cover both
literal paths of the hash chain: a seed below 2**31 hashes as a 4-byte INT,
a seed at or above 2**31 as an 8-byte BIGINT.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.functions.generators import generate_df
from hands_on_iceberg_compression_spark.schema.reference_schemas import (
    narrow_example_config,
    wide_events_config,
)
from hands_on_iceberg_compression_spark.schema.specs import (
    ArraySpec,
    BigintSpec,
    DateSpec,
    DoubleSpec,
    EnumSpec,
    IntSpec,
    StringSpec,
    TableConfig,
    spark_type,
)

INT_SEED = 7
LONG_SEED = 2**31 + 11


def _kinds_config() -> TableConfig:
    """Every spec kind and literal type the wide and narrow configs leave
    out: an INT id, dates, BIGINT bounds past 2**31, float double bounds,
    int and bigint enums, a string longer than one md5 block and arrays of
    strings and ints."""
    return TableConfig(
        catalog="spark_catalog",
        schema="lab",
        table_base="kinds",
        columns={
            "id": IntSpec(min=1, max=1),
            "day": DateSpec(start="2023-02-01", end="2024-03-31", nullable=0.2),
            "big": BigintSpec(min=-(2**40), max=2**41),
            "dbl": DoubleSpec(min=-2.5, max=7.25, nullable=0.5),
            "ienum": EnumSpec(values=(3, 1, 4, 1, 5), base="int"),
            "benum": EnumSpec(values=(2**33, -7), base="bigint"),
            "long_str": StringSpec(length=70),
            "str_arr": ArraySpec(element=StringSpec(length=5), min_len=1, max_len=4),
            "int_arr": ArraySpec(element=IntSpec(min=-3, max=3), min_len=2, max_len=3, nullable=0.25),
        },
    )


CONFIGS = {
    "wide": (wide_events_config, 1000),
    "narrow": (narrow_example_config, 3000),
    "kinds": (_kinds_config, 2000),
}

# (config, seed) -> (row count, bit_xor of the per-row xxhash64 of every column)
GOLDEN = {
    ("wide", INT_SEED): (1000, 3915198928560171442),
    ("wide", LONG_SEED): (1000, -2121917639709218479),
    ("narrow", INT_SEED): (3000, 8304827617940411978),
    ("narrow", LONG_SEED): (3000, -9072375299612190607),
    ("kinds", INT_SEED): (2000, -9190635147298531324),
    ("kinds", LONG_SEED): (2000, 2690033729446901590),
}

# config -> (sha256 prefix of schema.json(), the nullable columns)
SCHEMAS = {
    "wide": (
        "5e8a3da553a14001",
        {"row_1", "row_2", "row_37", "row_42", "row_43", "row_44", "row_45", "row_46", "row_60"}
        | {f"row_{n}" for n in range(9, 28)},
    ),
    "narrow": (
        "d8945d8c6a52ed13",
        {"amount", "created_at", "country", "age", "note", "tags"},
    ),
    "kinds": ("efc073a2bfd6a373", {"day", "big", "dbl", "str_arr", "int_arr"}),
}


@pytest.mark.parametrize("seed", [INT_SEED, LONG_SEED], ids=["int_seed", "long_seed"])
@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_generate_df_matches_golden(spark, name, seed):
    make, rows = CONFIGS[name]
    cfg = make()
    df = generate_df(spark, cfg, start_id=1, num_rows=rows, seed=seed)

    digest, nullable = SCHEMAS[name]
    assert df.columns == list(cfg.columns)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        spark_type(s).simpleString() for s in cfg.columns.values()
    ]
    assert {f.name for f in df.schema.fields if f.nullable} == nullable
    assert hashlib.sha256(df.schema.json().encode()).hexdigest()[:16] == digest

    got = df.agg(F.count("*"), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]
    assert tuple(got) == GOLDEN[(name, seed)]
