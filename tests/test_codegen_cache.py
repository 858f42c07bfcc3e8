"""The session's generated-class cache holds the operator pass's working set.

Spark compiles a Java class for each whole-stage-codegen subtree,
projection, predicate and ordering it has not compiled before, and keeps
them in a cache of ``spark.sql.codegen.cache.maxEntries`` classes.  One pass
of the benchmark's headline operator queries needs about 250 classes; with
Spark's default of 100 entries every warm pass recompiled nearly all of
them.  This pins the working set: a second pass in the same session
compiles almost nothing new.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from wl_query import FIXTURE_DIR, OPERATORS  # noqa: E402

from hands_on_iceberg_compression_spark.operators import all_queries  # noqa: E402

# classes a warm pass may still compile.  In a fresh session the second
# pass compiled 6 and the third none; with the default cache each warm pass
# compiled 224.
WARM_PASS_COMPILES_MAX = 32


def _compiles(spark) -> int:
    """Classes compiled in this JVM so far (Spark's codegen metric)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_operator_pass_compiles_almost_nothing(spark):
    queries = {n: q for n, q in all_queries().items() if n in OPERATORS}
    assert sorted(queries) == sorted(OPERATORS)

    def one_pass() -> None:
        for name in OPERATORS:
            queries[name].build(spark, FIXTURE_DIR).collect()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before <= WARM_PASS_COMPILES_MAX
