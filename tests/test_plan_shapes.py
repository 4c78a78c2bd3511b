"""Performance-as-correctness: pin the physical-plan properties the
100 TB design depends on.  A regression that silently turns a broadcast
into a shuffle, drops scan pruning, or introduces a cross join would
still pass value parity — these tests catch it at plan level.
"""

from __future__ import annotations

import os

from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE

#: Plan shapes are asserted at sf0.001 by default; the scale harness
#: re-runs this module against the derived sf1 tables
#: (``SPARK_GRAFT_PLAN_SF=.scale/sf1 pytest tests/test_plan_shapes.py``)
#: to prove no property flips when statistics grow 1000x — a broadcast
#: that silently becomes a shuffle at scale is exactly what these
#: assertions exist to catch.
SF_PLAN = os.environ.get("SPARK_GRAFT_PLAN_SF", SF_SMOKE)


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_PLAN)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_prunes_and_pushes_down(spark):
    plan = _plan(spark, "cancellation_pipeline_now")
    assert "PushedFilters: [" in plan
    # events feeds deviation_cases: the scan must not drag full rows
    assert "props" not in plan  # unreferenced wide column stays pruned
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "tpch_q5_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q3_uses_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan


def test_knn_candidates_equi_join_without_forced_broadcast(spark):
    """The query set is corpus-proportional (vec_id % 50), so the plan
    must not hard-pin a broadcast hint on it — AQE broadcasts while it
    fits and degrades to shuffle when it doesn't.  The candidate join
    stays an equi join either way."""
    for name in ("knn_lsh_hyperplane", "knn_ivf_label"):
        df = REGISTRY[name].build(spark, SF_PLAN)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in optimized, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_knn_int8_searches_inside_buckets(spark):
    """The int8 search must be an equi join on the integer-LSH bucket
    key — the r2 all-pairs form (join on vec_id inequality alone) was
    O(N²/|mod|) and the slowest bench query.  No forced broadcast of
    the corpus-proportional query side either."""
    df = REGISTRY["knn_int8_cosine"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert re.search(r"Join \[bucket#\d+\]", plan), plan[:2000]


def test_knn_lsh_results_identical_without_broadcast(spark):
    """Join-strategy independence: forcing the shuffle path (broadcast
    threshold -1) must give byte-identical top-k results."""
    def rows():
        df = REGISTRY["knn_lsh_hyperplane"].build(spark, SF_PLAN)
        return sorted(map(tuple, df.collect()))

    default = rows()
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced_shuffle = rows()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert default == forced_shuffle


def test_embedding_neardup_is_per_block_run_kernel_scan(spark):
    """The near-dup pair stage must be the bucket-pair RUN scan keyed
    on (label, cell) — a mapInPandas walk over the partition-sorted
    tagged stream (r13), never per-group cogroup kernel calls (the
    r12 sf125 throughput wall), never label-only blocking
    (O(n²/label) all-pairs at scale), never a materialized banded
    candidate join (shuffles Σocc² pair rows — filled the disk at
    sf25)."""
    df = REGISTRY["dedup_embedding_cosine"].build(spark, SF_PLAN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_jaccard_candidates_are_equi_join(spark):
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_merge_form_without_join_fanout(spark):
    """The as-of join must be the union+sort+last-fill merge plan: no
    join node at all, so a hot user with a million orders costs
    O(orders) rows, never orders x events fan-out."""
    plan = _plan(spark, "events_asof_latest_order")
    assert "Join" not in plan
    assert "Union" in plan and "Window" in plan


def test_topk_ranks_preaggregated_set(spark):
    """Top-k per group: the window must rank the aggregated (type,
    user) counts, not raw events — a HashAggregate sits below the
    Window in the plan."""
    plan = _plan(spark, "events_top_users_per_type")
    assert "CartesianProduct" not in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_decontaminate_semi_anti_no_cartesian(spark):
    """Contamination detection must stay semi-join at the shingle level
    and anti-join at the doc level — never a cross join, never a
    collected id list materialized into the plan."""
    plan = _plan(spark, "corpus_decontaminate")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_kmeans_assigns_in_kernel_and_searches_by_cell(spark):
    """Assignment is the Arrow-batched exact-integer matmul kernel
    (MapInPandas — the bounded centroid matrix rides the closure, so
    no join of any kind), and the cell-confined search is the salted
    per-(cell, salt) cogrouped kernel scan (similarity.salted_topk_scan)
    — never a nested loop and never a per-pair scored row explosion."""
    plan = _plan(spark, "knn_ivf_kmeans")
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the cell-confined search cogroups members with queries per cell
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]


def test_pack_sequences_windows_are_range_partitioned(spark):
    """The data-proportional window must be partitioned by the prefix-
    sum range key — a global (empty-partition-spec) window over the
    corpus would serialize through one task.  The only global window
    allowed is the one over the tiny per-range totals table."""
    plan = _plan(spark, "corpus_pack_sequences")
    assert "CartesianProduct" not in plan
    import re

    # the intra-range running sum: Window ... partitioned by rng
    assert re.search(r"Window.*partitionBy=\[rng", plan) or re.search(
        r"Window \[sum\(n.*\[rng#?\d*", plan
    ), plan[:3000]


def test_range_join_is_binned_equi_join(spark):
    """The attribution range join must hash-join on (user, day-bin)
    with the timestamp range as a residual condition — never a
    nested-loop over per-user event lists."""
    plan = _plan(spark, "events_attribution_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    assert re.search(r"Join \[user_id#\d+L?, day#\d+", plan) or re.search(
        r"Join.*user_id.*day", plan
    ), plan[:3000]


def test_correlated_subquery_is_decorrelated(spark):
    """The correlated scalar subqueries must decorrelate into grouped
    aggregates joined back on the key — no per-row subquery node and
    no cartesian shape in the physical plan."""
    plan = _plan(spark, "orders_above_2x_customer_avg")
    assert "Subquery" not in plan  # fully rewritten, not re-executed per row
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_scd2_is_single_shuffle_no_self_join(spark):
    """SCD2 change capture must be the two-window-pass plan over ONE
    user_id exchange — a lag/lead formulation that re-shuffled per
    pass, or a self-join on (user, version), would double the corpus
    shuffle at scale."""
    plan = _plan(spark, "events_scd2_user_status")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_standardize_broadcasts_only_dimension_stats(spark):
    """The moment-stats table is dimension-cardinality (64 rows), so
    broadcasting it back onto the exploded components is scale-safe;
    the component side must never be broadcast and the only corpus
    shuffle is the per-dimension aggregation."""
    plan = _plan(spark, "embedding_standardize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_basket_pairs_generates_pairs_order_side_with_take_ordered(spark):
    """r15: pair generation is the per-order collect_set groupBy plus
    an array-side a < b generator (fan-out bounded by per-order line
    count) — NO join of any kind remains in the plan (the old
    order-key self-join cost two extra fact-sized exchanges), and the
    global top-50 must go through TakeOrderedAndProject, not a
    single-partition full sort."""
    plan = _plan(spark, "lineitem_basket_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan  # pair stream is generated, not joined
    assert "collect_set" in plan and "Generate" in plan


def test_pq_broadcasts_codebook_but_not_lut(spark):
    """PQ search: the encode is the exact-integer matmul kernel
    (MapInPandas — the codebook rides the closure) and scoring is the
    per-(bucket, salt) cogrouped kernel scan — the [M x K] codebook
    matrix rides the scan closure too, so NO hinted broadcast remains
    and no corpus/query-proportional side may pick up a forced
    strategy."""
    df = REGISTRY["knn_pq_adc"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # the encode kernel
    assert "FlatMapCoGroupsInPandas" in plan  # the per-bucket scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_steps_are_not_forced_broadcast(spark):
    """The per-step user frames are user-cardinality (corpus-
    proportional), so the plan must not pin a broadcast hint on them —
    size-based selection may broadcast at test scale, but the logical
    plan carries no forced strategy."""
    df = REGISTRY["events_funnel_conversion"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the only hinted broadcast is the 1-row step-one total
    assert optimized.count("strategy=broadcast") <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_bigram_lm_broadcasts_only_the_vocab_scalar(spark):
    """The vocab count is a 1-row frame (explicit broadcast); the gram
    count joins are equi joins whose count side AQE may broadcast, but
    nothing may degrade to a cartesian or nested-loop product beyond
    that single 1-row cross join."""
    plan = _plan(spark, "text_bigram_lm_score")
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join: the broadcast 1-row vocab scalar
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_semdedup_is_per_cluster_run_kernel_scan(spark):
    """The within-cluster pairwise stage must be the bucket-pair RUN
    scan — one tagged stream hash-partitioned + sorted on the
    bucket-pair key, walked by a mapInPandas kernel (r13: one kernel
    invocation per partition, not per group — the ~200k per-group
    conversions were the sf125 wall) — never a materialized pair join
    (the band self-join + DISTINCT + two vector joins it replaced
    shuffled Σocc² pair rows and filled the disk at sf25)."""
    df = REGISTRY["corpus_semdedup"].build(spark, SF_PLAN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan  # the r12 per-group form
    # the run stream must arrive sorted for the kernel's boundary walk
    assert "Sort" in plan
    # no pair-level aggregation survives: the one Aggregate family in
    # the plan belongs to the quantizer build, not a pair DISTINCT
    assert "vec_a" not in plan and "vec_b" not in plan


def test_boilerplate_prune_no_cartesian_and_pruned_scan(spark):
    plan = _plan(spark, "corpus_boilerplate_prune")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # only doc_id + text leave the documents scan
    assert "lang" not in plan and "source" not in plan


def test_pq_refine_rerank_is_shortlist_bounded(spark):
    """Stage 2 must join the shortlist to the corpus vectors by
    equi-join (no cartesian/nested-loop); the only broadcast HINT in
    the whole plan remains the fixed 128-row codebook."""
    df = REGISTRY["knn_pq_refine"].build(spark, SF_PLAN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # one hint per codebook consumer (LUT build); none on LUT/corpus
    assert optimized.count("strategy=broadcast") <= 2


def test_anomaly_mad_broadcasts_stat_tables_only(spark):
    plan = _plan(spark, "events_anomaly_mad")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the events fact scan appears exactly 3x (median pass, MAD pass,
    # flag pass) and never self-joins on event_id
    assert "props" not in plan  # wide column pruned from all scans


def test_bpe_pairs_aggregate_with_partial_combine_and_take_ordered(spark):
    plan = _plan(spark, "corpus_bpe_pair_counts")
    # corpus -> vocab and vocab -> pairs both partial-aggregate before
    # their shuffles; the top-k never materializes a global sort.
    assert plan.count("partial_count") >= 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pmi_broadcasts_totals_and_avoids_global_sort(spark):
    plan = _plan(spark, "corpus_bigram_pmi")
    # the 1-row corpus-totals join must be broadcast, never a shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q13_outer_join_survives_priority_predicate(spark):
    df = REGISTRY["customer_order_count_distribution"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the priority predicate must not flip the outer join inner (which
    # would drop the zero-order bucket)
    assert "LeftOuter" in optimized
    plan = _plan(spark, "customer_order_count_distribution")
    assert "CartesianProduct" not in plan


def test_label_vote_reuses_bounded_broadcast_nested_loop(spark):
    # same contract as the brute-force baseline: the <=32-query sample
    # side is broadcast, the corpus side streams — the non-equi (!=)
    # pair predicate makes BroadcastNestedLoopJoin the INTENDED shape,
    # bounded because one side is fixed-size by construction.
    plan = _plan(spark, "knn_label_vote")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_freqitems_heavy_hitters_broadcast_sketch_and_totals(spark):
    # exact counts shuffle once (map-side combined); the 1-row totals
    # and the bounded sketch set join in as broadcasts, never shuffles.
    plan = _plan(spark, "corpus_word_freqitems")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_candidates_equi_join_on_cell_codebook_broadcast_only(spark):
    # candidates must come from the learned-cell cogroup (no hyperplane
    # fallback, no cartesian, no nested-loop degrade) and the ranking
    # must run in the per-list Arrow kernel scan.  The bounded codebook
    # is a kernel-closure constant (not a plan-level broadcast), and
    # the corpus-sized vec_id equi-joins LEGITIMATELY flip from
    # broadcast to shuffle as the corpus outgrows the threshold (first
    # observed at sf25 statistics) — so broadcast PRESENCE is not an
    # invariant here; join-shape sanity is.
    df = REGISTRY["knn_ivfpq_adc"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    plan = _plan(spark, "knn_ivfpq_adc")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell" in optimized
    assert "FlatMapCoGroupsInPandas" in plan  # the per-list kernel scan


def test_substring_dedup_joins_by_gram_no_cartesian(spark):
    plan = _plan(spark, "corpus_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_rounds_are_equi_joins_no_cartesian(spark):
    plan = _plan(spark, "parts_copurchase_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the top-k is a TakeOrdered, not a global sort of the rank table
    assert "TakeOrderedAndProject" in plan
    # supersteps must re-read the PERSISTED edge/node tables, not
    # re-derive the fact self-join once per round
    assert "InMemoryTableScan" in plan


def test_upsert_merge_is_one_full_outer_key_join(spark):
    df = REGISTRY["orders_upsert_merge"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FullOuter" in optimized  # the MERGE core survives optimization
    plan = _plan(spark, "orders_upsert_merge")
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the 1-row broadcast of the
    # data-derived insert-key shift (the scalar-subquery pattern); the
    # MERGE join itself must never degrade to a nested loop
    nl = plan.count("BroadcastNestedLoopJoin")
    assert nl <= 1 and ("shift" in plan if nl else True)


def test_delta_batch_probes_index_without_forced_broadcast(spark):
    """Incremental dedup (r13 verdict #5): the batch-vs-index candidate
    join must stay an equi join with NO pinned broadcast hint — the
    batch side is batch-sized so AQE broadcasts it while it fits and
    degrades gracefully when a huge batch doesn't; the standing index
    side must never enter a nested-loop or cartesian plan."""
    df = REGISTRY["dedup_delta_batch"].build(spark, SF_PLAN)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_delta_embedding_prunes_untouched_blocks_via_broadcast(spark):
    """The embedding delta query joins the standing assignment against
    the batch's (bounded) touched-cell set with an explicit broadcast
    — the plan must carry a BroadcastHashJoin and no cartesian, so
    untouched blocks never reach the pair scan."""
    df = REGISTRY["dedup_delta_embedding"].build(spark, SF_PLAN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
