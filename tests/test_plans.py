"""Physical-plan audits: the plans we'd want at 100 TB, asserted.

Correctness tests prove the numbers; these prove the *shape* —
filters reach the parquet scan, projections prune columns, small
dims broadcast, aggregations have map-side partial phases, and the
expression pipeline stays inside whole-stage codegen.
"""

from __future__ import annotations

import pytest

from product_etl_spark.plans import CATALOG


def plan_of(spark, sf_dir, name: str) -> str:
    df = CATALOG[name]["fn"](spark, sf_dir)
    # Execute first: with AQE the pre-execution plan is not final (no
    # codegen markers, placeholder exchanges). Collecting this exact
    # DataFrame finalizes its own AdaptiveSparkPlan (a .write would
    # execute a separate QueryExecution).
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushdown_prune_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    # filter pushed to the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 6 needed columns in ReadSchema
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read and "l_orderkey" not in read and "l_partkey" not in read
    # two-phase aggregation (partial before the exchange)
    assert plan.count("HashAggregate") >= 2
    # whole-stage codegen spans render as "*(n)" in the final plan
    assert "isFinalPlan=true" in plan and "*(" in plan


def test_q03_small_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q03_region_nation_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q04_anti_join_no_full_shuffle_of_keys_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q04_customers_without_orders")
    # orders side pruned to the single join key before the join
    read = [
        line for line in plan.splitlines() if "ReadSchema" in line and "orders" not in line
    ]
    assert "LeftAnti" in plan or "BroadcastHashJoin" in plan


def test_q10_topk_plans_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_topk_brands")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT n


def test_q31_minhash_partial_aggregation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q31_minhash_signatures")
    # row-based shingling: one posexplode, lead window, then aggs with
    # map-side combine (partial phase before the exchange)
    assert "Generate posexplode" in plan
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2
    # the doc_id partitioning from the window shuffle is reused: only
    # the explode output is exchanged on doc_id, dedup + final agg
    # must not re-shuffle on a different key
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q35_corpus_not_shuffled(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q35_knn_bruteforce")
    # query side broadcast; corpus side must not hit a shuffle before
    # the similarity computation (only the final per-query window may
    # exchange on query_id)
    assert "BroadcastNestedLoopJoin" in plan
    before_join = plan.split("BroadcastNestedLoopJoin")[-1]
    assert "Exchange hashpartitioning" not in before_join.split("Window")[-1]


def test_scan_pruning_documents(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q27_doc_token_stats")
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "lang" not in read and "source" not in read


def test_q02_aggregates_below_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q02_top_revenue_orders")
    # the lineitem aggregation must happen before any join: in the
    # rendered tree the first (innermost-listed) aggregate appears
    # below the join operators — assert by checking that a
    # HashAggregate exists whose input is the raw scan side (partial
    # agg on l_orderkey), i.e. the string contains an aggregate on
    # l_orderkey keys
    assert "HashAggregate(keys=[l_orderkey" in plan
    # and the top-k is TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q56_centroid_seed_plans_take_ordered(spark, sf_dir):
    """ivf_centroids must seed via orderBy().limit() — a parallel
    per-partition top-k (TakeOrderedAndProject), never a row_number
    window over the whole corpus."""
    plan = plan_of(spark, sf_dir, "q56_ivf_assignment")
    assert "TakeOrderedAndProject" in plan


def test_q66_packing_no_corpus_wide_window(spark, sf_dir):
    """The only unpartitioned window in the packing plan must run over
    the bucket-offsets frame (n_buckets rows), not the documents."""
    plan = plan_of(spark, sf_dir, "q66_context_packing")
    # the in-bucket cumsum window is partitioned
    assert "_pack_bucket" in plan
    for line in plan.splitlines():
        if "Window" in line and "_pack_bucket" not in line:
            # any other unpartitioned window would list doc columns
            assert "n_tokens" not in line or "_bucket_total" in line


def test_build_products_broadcast_gated_by_size(spark):
    """The collection dim broadcast is hinted only under the size
    estimate; over the threshold the forced hint disappears."""
    from pyspark.sql import functions as F
    from product_etl_spark.pipelines.ingest import _fits_broadcast

    small = spark.range(10).select(
        F.col("id").cast("string").alias("master_code"),
        F.col("id").cast("string").alias("id"),
    )
    assert _fits_broadcast(small)
    assert not _fits_broadcast(small, max_bytes=1)  # too big for a 1-byte cap
    assert not _fits_broadcast(small, max_bytes=-1)  # broadcast disabled


def test_q86_top_supplier_no_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q86_tpch_q15_top_supplier")
    # the max-revenue pick is an aggregate broadcast back as a join,
    # never a corpus-wide sort or window
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" not in plan
    assert "Sort " not in plan.replace("SortMergeJoin", "")
    assert "Window" not in plan


def test_q88_large_volume_semi_join_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q88_tpch_q18_large_volume_customers")
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "LeftSemi" in plan
    # the HAVING aggregate has a map-side partial phase
    assert plan.count("partial_sum") >= 1


def test_q92_cosine_pairs_join_keyed_on_block(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q92_cosine_near_dup_pairs")
    # the self-join must be an equi-join on the block key — a
    # cartesian/broadcast-nested-loop here would be corpus^2 at scale
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q96_gapfill_windows_all_key_partitioned(spark, sf_dir):
    """Gap-fill must never sort the corpus: the LOCF window and the
    grid generation are both keyed by user_id."""
    plan = plan_of(spark, sf_dir, "q96_daily_gapfill_locf")
    for line in plan.splitlines():
        if "Window [" in line:
            # partition spec (second bracket group) must name the key
            assert "[user_id" in line.split("], ", 1)[1]
    assert "Generate explode" in plan  # grid built executor-side


def test_q100_trailing_frame_is_range_and_partitioned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q100_trailing_7d_spend")
    saw_window = False
    for line in plan.splitlines():
        if "Window [" in line:
            saw_window = True
            spec = line.split("], ", 1)[1]
            assert "[user_id" in spec  # partitioned by the key
            assert "specifiedwindowframe(RangeFrame" in line  # value-based
    assert saw_window


def test_q99_tfidf_rank_partitioned_and_scalar_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q99_tfidf_top_terms")
    for line in plan.splitlines():
        if "Window [" in line:
            assert "[doc_id" in line.split("], ", 1)[1]
    # the corpus-size scalar joins as a broadcast, not an exchange
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q101_weighted_sample_map_only(spark, sf_dir):
    """Membership is decided row-locally: the totals collapse to
    driver-side literals (one scalar-aggregate job beforehand), so
    the sampling plan itself is scan+filter — no join, no window, no
    exchange of the documents at all."""
    plan = plan_of(spark, sf_dir, "q101_weighted_doc_sample")
    assert "Window" not in plan and "Join" not in plan
    assert "Exchange" not in plan


def test_q105_min_cost_supplier_topk_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q105_tpch_q2_min_cost_supplier")
    # final LIMIT-10 is a parallel partial top-k, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the part size/type filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(p_size), IsNotNull(p_type)" in plan or \
        "EqualTo(p_size,15)" in plan


def test_q106_exists_compiles_to_semi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q106_tpch_q4_order_priority")
    # the correlated EXISTS is a LeftSemi hash join with the date
    # inequality as residual — never a full join + distinct
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # two-phase priority count


def test_q111_waiting_suppliers_single_aggregate_no_self_join_pair(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q111_tpch_q21_waiting_suppliers")
    # EXISTS/NOT-EXISTS pair collapsed to one per-order aggregate +
    # one semi join; the supplier/nation/region dims broadcast
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cms_estimate_broadcasts_sketch(spark):
    """The probe join must broadcast the bounded sketch side — a
    sort-merge join would shuffle the (possibly corpus-scale) probe
    side on the hash buckets."""
    from pyspark.sql import functions as F

    from product_etl_spark.operators.cms import cms_estimate, cms_partials

    df = spark.range(1000).select(
        F.concat(F.lit("w"), (F.col("id") % 37)).alias("w")
    )
    sk = cms_partials(df, [], "w", depth=3, width=256)
    est = cms_estimate(sk, df.select("w"), "w", depth=3, width=256)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
