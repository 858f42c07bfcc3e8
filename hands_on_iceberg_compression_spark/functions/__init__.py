from hands_on_iceberg_compression_spark.functions.generators import (
    column_sql,
    generate_df,
    rows_df,
)
from hands_on_iceberg_compression_spark.functions.prng import (
    generate_random_strings,
    mulberry32,
)

__all__ = [
    "column_sql",
    "generate_df",
    "rows_df",
    "generate_random_strings",
    "mulberry32",
]
