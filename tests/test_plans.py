"""Plan-quality gates (the 100 TB posture, asserted): pushdown, pruning,
broadcast, codegen.  A correct-but-slow plan fails here."""

from __future__ import annotations

from hands_on_iceberg_compression_spark.operators.workload import (
    q_count_star,
    q_eq_string,
    q_flagship,
    q_group_agg,
    q_join_broadcast,
    q_scalar_funcs,
    q_sort_limit,
)
from hands_on_iceberg_compression_spark.plans.explain import (
    assert_filter_pushdown,
    assert_scan_pruned,
    codegen_stage_count,
    formatted_plan,
    has_broadcast_join,
    scan_columns,
)

from tests.conftest import SF_SMALL


def test_equality_filter_pushed_to_scan(spark):
    df = q_eq_string(spark, SF_SMALL)
    assert_filter_pushdown(df, "event_type")
    # count over one predicate column must not read the whole row
    assert_scan_pruned(df, 1)


def test_flagship_pushdown_and_pruning(spark):
    df = q_flagship(spark, SF_SMALL)
    # ts and value predicates are pushdown-able; LIKE '%..%' stays a
    # post-scan filter (no prefix) — that's the expected shape
    assert_filter_pushdown(df, "ts")
    assert_filter_pushdown(df, "value")
    assert scan_columns(df) <= {"props", "ts", "value"}


def test_projection_prunes_scan(spark):
    df = q_sort_limit(spark, SF_SMALL)
    assert scan_columns(df) <= {"event_id", "value"}


def test_group_agg_partial_aggregation(spark):
    plan = formatted_plan(q_group_agg(spark, SF_SMALL))
    # map-side combine: a HashAggregate below the exchange and one above
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_star_join_broadcasts(spark):
    df = q_join_broadcast(spark, SF_SMALL)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    # the fact table must not be exchanged before the joins: no shuffle
    # between scan of orders and the broadcast joins (AQE final agg shuffle ok)
    assert "SortMergeJoin" not in plan


def test_count_star_reads_no_data_columns(spark):
    df = q_count_star(spark, SF_SMALL)
    # count(*) should scan zero data columns (metadata-only row groups)
    assert len(scan_columns(df)) == 0


def test_scalar_funcs_whole_stage_codegen(spark):
    df = q_scalar_funcs(spark, SF_SMALL)
    assert codegen_stage_count(df) >= 1


def test_tpch_q3_broadcasts_filtered_dim(spark):
    from hands_on_iceberg_compression_spark.operators.workload import q_tpch_q3_shape

    df = q_tpch_q3_shape(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # the customer mktsegment filter must reach its scan, not post-join
    assert_filter_pushdown(df, "c_mktsegment")


def test_asof_join_single_shuffle(spark):
    from hands_on_iceberg_compression_spark.operators.temporal import q_asof_join

    import re

    plan = formatted_plan(q_asof_join(spark, SF_SMALL))
    # union + one window: exactly one exchange on user_id, no join operator
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    assert "Join" not in plan


def test_range_join_is_equi_join_not_cartesian(spark):
    from hands_on_iceberg_compression_spark.operators.temporal import (
        q_range_join_banded,
    )

    plan = formatted_plan(q_range_join_banded(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_exact_groups_on_digest_not_text(spark):
    from hands_on_iceberg_compression_spark.operators.dedup import q_dedup_exact
    from hands_on_iceberg_compression_spark.plans.explain import formatted_plan as fp

    plan = fp(q_dedup_exact(spark, SF_SMALL))
    # shuffle key is the md5 digest, so the exchange must not carry raw text
    exchange = plan[plan.index("Exchange") :].split("\n", 3)
    assert "text" not in exchange[0]


def test_contamination_broadcasts_eval_shingles(spark):
    """The eval shingle set (bounded: benchmark suites are small) must be
    the broadcast side; the training scan stays streaming."""
    from hands_on_iceberg_compression_spark.operators.textops import (
        q_contamination_check,
    )

    df = q_contamination_check(spark, SF_SMALL)
    assert has_broadcast_join(df)


def test_near_dup_no_unconditional_corpus_broadcast(spark):
    """sim_embedding_near_dup must not carry an unconditional broadcast
    hint on the corpus side (VERDICT r1 #3) — the physical plan may still
    auto-broadcast under the size threshold, which is the point: the
    planner decides from statistics, not a hint that OOMs at scale."""
    from hands_on_iceberg_compression_spark.operators.similarity import (
        q_embedding_near_dup,
    )

    df = q_embedding_near_dup(spark, SF_SMALL)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "hint" not in logical.lower()


def test_stratified_sample_single_scan_partial_agg(spark):
    """Stratified sampling must be one scan + map-side-combinable agg."""
    from hands_on_iceberg_compression_spark.operators.textops import (
        q_sample_stratified,
    )

    import re

    df = q_sample_stratified(spark, SF_SMALL)
    plan = formatted_plan(df)
    # one scan node (formatted output repeats the name in the detail block)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "HashAggregate" in plan


def test_ngram_jaccard_window_runs_once(spark):
    """r20 shape: the doc-frequency Window subtree is materialized ONCE
    (localCheckpoint) before the shingle self-join — the r19 executed plan
    showed the self-join's broadcast build side REBUILDING the whole
    explode+window pipeline (executed-plan ops 12-17).  Pin the fix from
    the returned plan: NO Window node survives in the query's own plan (it
    ran exactly once, upstream in the eager checkpoint), and both self-join
    sides read the checkpointed rows (two ExistingRDD scans)."""
    import re

    from hands_on_iceberg_compression_spark.operators.dedup import (
        q_ngram_jaccard_topk,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_ngram_jaccard_topk(spark, SF_SMALL)
        plan = formatted_plan(df)
        assert "Window" not in plan  # window executed once, at checkpoint time
        # both join sides + the two size frames read materialized rows —
        # no parquet re-scan, no re-tokenization anywhere in the query plan
        assert "Scan parquet" not in plan
        assert len(re.findall(r"Scan ExistingRDD", plan)) >= 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_pack_and_mixture_single_exchange(spark):
    """The per-source window ops must shuffle exactly once (the window's
    hashpartitioning(source)); the downstream per-source aggregate reuses
    that partitioning instead of re-exchanging."""
    from hands_on_iceberg_compression_spark.operators.textops import (
        q_mixture_sample,
        q_pack_sequences,
    )

    for q in (q_pack_sequences, q_mixture_sample):
        text = q(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        n = text.count("Exchange hashpartitioning")
        assert n == 1, f"{q.__name__}: expected 1 exchange, plan has {n}"


# --- round-4 window additions: plan gates for the round-3 query cohort -----


def test_tpch_q1_partial_agg_and_pushdown(spark):
    """Q1 shape at 100 TB = one scan + 6-row shuffle: the shipdate filter
    must reach parquet, the wide aggregate must combine map-side, and the
    scan must read only the 7 referenced columns."""
    import re

    from hands_on_iceberg_compression_spark.operators.advanced import q_tpch_q1_shape

    df = q_tpch_q1_shape(spark, SF_SMALL)
    assert_filter_pushdown(df, "l_shipdate")
    assert_scan_pruned(df, 7)
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2  # partial+final


def test_tpch_q4_semi_join_no_row_multiplication(spark):
    """The EXISTS decorrelation must stay a semi join (no inner-join +
    distinct rewrite that could widen rows) with both filters pushed."""
    from hands_on_iceberg_compression_spark.operators.advanced import q_tpch_q4_shape

    df = q_tpch_q4_shape(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert_filter_pushdown(df, "o_orderdate")
    assert_filter_pushdown(df, "l_quantity")


def test_tpch_q5_broadcasts_region_nation_only(spark):
    """nation+region ride broadcasts; the date range reaches the orders
    scan.  The big fact joins may shuffle — that's their 100 TB shape."""
    from hands_on_iceberg_compression_spark.operators.workload import q_tpch_q5_shape

    df = q_tpch_q5_shape(spark, SF_SMALL)
    assert has_broadcast_join(df)
    assert_filter_pushdown(df, "o_orderdate")
    assert "CartesianProduct" not in formatted_plan(df)


def test_tpch_q14_broadcast_dim_and_pruned_fact(spark):
    from hands_on_iceberg_compression_spark.operators.advanced import q_tpch_q14_shape

    df = q_tpch_q14_shape(spark, SF_SMALL)
    assert has_broadcast_join(df)
    assert_filter_pushdown(df, "l_shipdate")
    # lineitem: shipdate/partkey/extendedprice/discount + part: partkey/type
    assert_scan_pruned(df, 6)


def test_keep_latest_and_scd2_single_shuffle(spark):
    """Both CDC twins are one row_number/lead window over one exchange on
    the dedup key — no join, no second shuffle.  keep_latest additionally
    gets Spark's rank-limit pushdown: a PARTIAL WindowGroupLimit keeps one
    row per key per map task BEFORE the exchange, so the shuffle moves
    ~|keys| rows, not |events| — exactly the pre-reduction you want at
    100 TB."""
    import re

    from hands_on_iceberg_compression_spark.operators.dedup import (
        q_dedup_keep_latest,
        q_scd2_history,
    )

    for q in (q_dedup_keep_latest, q_scd2_history):
        plan = formatted_plan(q(spark, SF_SMALL))
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, q.__name__
        assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1, q.__name__
        assert "Join" not in plan, q.__name__
    plan = formatted_plan(q_dedup_keep_latest(spark, SF_SMALL))
    assert re.search(r"WindowGroupLimit[\s\S]*?row_number\(\), 1, Partial", plan)


def test_customer_ltv_topk_broadcast_dims_take_ordered(spark):
    """Aggregate-then-join order: both dimension joins broadcast AFTER the
    fact shrinks to the customer domain, and the top-k is TakeOrdered (no
    global sort exchange)."""
    import re

    from hands_on_iceberg_compression_spark.operators.advanced import (
        q_customer_ltv_topk,
    )

    df = q_customer_ltv_topk(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_value_outliers_broadcast_stats(spark):
    """The two-pass z-score census must broadcast the per-type stats back
    onto the scan (the stats side is bounded by the type domain)."""
    from hands_on_iceberg_compression_spark.operators.advanced import q_value_outliers

    df = q_value_outliers(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_conversion_no_join_two_aggregates(spark):
    """The funnel is conditional mins on one user_id shuffle plus a global
    fold — never a per-stage self-join."""
    import re

    from hands_on_iceberg_compression_spark.operators.advanced import (
        q_funnel_conversion,
    )

    plan = formatted_plan(q_funnel_conversion(spark, SF_SMALL))
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2
