"""Physical-plan regression guards for the flagship queries.

Correctness is pinned by the DuckDB oracles; these tests pin the SHAPE
of the plans — pushdown reaching the parquet scans, dimensions
broadcast, no accidental cartesian/nested-loop fallbacks — so a future
edit can't silently trade a broadcast hash join for a per-key quadratic
plan while still returning the right rows at test scale.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# Queries where a BroadcastNestedLoopJoin is the intended plan: a tiny
# broadcast side probed by every row (ANN brute force / evaluation, and
# the token-budget threshold join). Everything else must stay hash-based.
NESTED_LOOP_OK = {
    "brute_force_topk", "lsh_bucketed_topk", "ivf_topk", "ann_recall_eval",
    "embedding_near_dup_pairs", "token_budget_sample",
    # recall gate: bounded hash-ranked sample (100 rows) × corpus ground
    # truth — the same O(Q×N) shape as brute_force_topk
    "near_dup_recall_eval",
    # broadcast-centroid assignment (≤ MAX_CELLS rows), same as ivf_topk
    "embedding_cluster_summary",
    # int8 brute force: same O(Q×N) inequality-join demo as brute_force_topk
    "quantized_topk", "quantized_recall_eval",
    # scalar-subquery shapes: the broadcast side is one computed row
    # (retention cutoff / global average balance / mixture multiplier u /
    # corpus doc count N for the DF-rarity weights / order count N for
    # basket lift)
    "retention_filter", "idle_rich_customers", "source_mixture_sample",
    "tfidf_top_terms", "rare_term_docs", "basket_lift",
    # one-row self-audit: five single-row aggregate counters crossJoined
    # into the summary row — every BNLJ input is exactly one row
    "near_dup_incremental_update",
    # broadcast-centroid assignment of the twin corpus (≤ MAX_CELLS
    # rows), same shape as ivf_topk/embedding_cluster_summary
    "semantic_dedup_cells",
    # scalar-subquery shape: the broadcast side is the one-row (N, V)
    # LM statistics aggregate
    "lm_rarity_docs",
    # scalar-subquery shape: the broadcast side is the one-row
    # (total_s, total_tokens) normalizer aggregate
    "temperature_mixture_weights",
}


def _plan(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


# r13 tier split (VERDICT r12 #1): full-registry plan sweep (71 s) — a sweep, like the oracle sweep
@pytest.mark.full_suite
def test_no_cartesian_products_anywhere(spark, sf_dir):
    offenders = []
    for name, fn in entrymod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


@pytest.mark.parametrize("name", ["q5_revenue_by_nation", "nation_trade_volume",
                                  "returned_revenue_customers"])
def test_dims_broadcast_in_star_joins(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    scan = plan[plan.index("PushedFilters"):].splitlines()[0]
    assert "l_shipdate" in scan


def test_decile_plan_has_no_global_window(spark, sf_dir):
    """customer_spend_deciles must rank inside coarse buckets — a global
    ntile window would move every customer to one partition (straggler at
    10^9 customers). Every WindowExec must be partitioned by the coarse
    bucket, and no ntile may appear (the decile is derived from the exact
    rank arithmetically)."""
    plan = _plan(spark, sf_dir, "customer_spend_deciles")
    assert "ntile" not in plan.lower()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected a partitioned ranking window"
    assert all("__cb" in l for l in win_lines), win_lines


def test_keep_newest_is_pure_hash_aggregate(spark, sf_dir):
    """dedup_keep_newest must plan as HashAggregate with NO sorts: the
    packed decimal recency key (r7) exists precisely so the max/max_by
    buffers stay mutable — a struct ordering key regresses to
    Sort+SortAggregate, re-paying a per-partition sort at every scale
    (docs/PLANS.md r6 finding #2)."""
    plan = _plan(spark, sf_dir, "dedup_keep_newest")
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "Sort [" not in plan


def test_ivf_assignment_is_arrow_kernel_not_window(spark, sf_dir):
    """IVF coarse assignment must be the Arrow-batched matrix kernel
    (one mapInArrow pass over the corpus — measured ~2 s where every
    JVM per-pair join shape cost ~600 s at sf10), never an n×K joined
    intermediate: no ranking window, no nested-loop join, no sort in
    the BUILD plan. Since r6 the assignment is an index artifact: the
    QUERY plan just scans the stored inverted lists, leaving only the
    bounded query-side fan-out and final per-query top-k windows."""
    from e_commerce_etl_pipeline_spark.extensions import similarity

    build_plan = similarity._assign_nearest(
        similarity._emb(spark, sf_dir),
        similarity.trained_centroids(spark, sf_dir),
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in build_plan
    assert "Window [" not in build_plan, "corpus-side window in IVF build"
    assert "NestedLoop" not in build_plan, "n×K joined intermediate"
    assert "Sort [" not in build_plan

    plan = _plan(spark, sf_dir, "ivf_topk")
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert len(win_lines) <= 2, win_lines


def test_range_join_is_equi_on_bucket(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_pairs_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the band bucket must be part of the equi-join key
    join_line = next(l for l in plan.splitlines() if "HashJoin" in l
                     or "SortMergeJoin" in l)
    assert "_probe" in join_line and "_bucket" in join_line


def test_chunking_is_shuffle_free_map(spark, sf_dir):
    """chunk_documents is a pure map+explode: any Exchange in its plan
    means a regression introduced a shuffle into an embarrassingly
    parallel operator."""
    plan = _plan(spark, sf_dir, "chunk_documents")
    assert "Exchange" not in plan
    assert "Sort [" not in plan


def test_segment_dedup_keep_first_is_pure_hash_aggregate(spark, sf_dir):
    """segment_dedup_docs must stay Sort-free: the keep-first aggregate
    groups on the segment TEXT with fixed-width BIGINT buffers (packed
    min key) — re-keying on md5 with a min_by(text, ...) buffer
    regresses to Sort+SortAggregate on both sides of the exchange
    (observed on 4.1.2), re-paying a per-partition sort at every scale.
    Reassembly is ObjectHashAggregate (collect_list), also sort-free,
    and the whole plan is exactly two exchanges."""
    plan = _plan(spark, sf_dir, "segment_dedup_docs")
    assert "SortAggregate" not in plan
    assert "Sort [" not in plan
    assert plan.count("Exchange") == 2


def test_quality_classifier_scores_plan(spark, sf_dir):
    """The scoring join on `term` is left to AQE on purpose (the
    weights table is vocabulary-bounded: usually broadcastable, but a
    forced broadcast would OOM a pathological-vocab corpus), so the
    pin is on the ADAPTIVE final plan: after execution the term join
    must have converted to a broadcast hash join. The model itself is
    JVM arithmetic — no Python eval anywhere."""
    df = entrymod.queries()["quality_classifier_scores"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [term" in final, "AQE left the vocab join on SMJ"
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_contamination_is_one_pass(spark, sf_dir):
    """benchmark_contamination must stay the fused single-aggregate
    plan (late r8): one scan of the gram artifact, one left BROADCAST
    join marking benchmark grams, one doc_id aggregate — regressing to
    the totals⋈hits formulation doubles gram-table I/O and re-adds an
    exchange + join (docs/PLANS.md: exchanges 3 → 2)."""
    plan = _plan(spark, sf_dir, "benchmark_contamination")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    # two SHUFFLE exchanges (bench-side distinct + doc agg); the third
    # "Exchange" substring in the plan is the BroadcastExchange itself
    assert plan.count("Exchange hashpartitioning") == 2


def test_leakage_safe_splits_no_window_no_sort(spark, sf_dir):
    """leakage_safe_splits is one exact-dedup hash aggregate + one
    digest equi-join; the split rule is row-local arithmetic. A Window
    (min-over-group formulation) or a SortAggregate would re-introduce
    corpus-ordered work the operator exists to avoid."""
    plan = _plan(spark, sf_dir, "leakage_safe_splits")
    assert "Window [" not in plan
    assert "SortAggregate" not in plan


def test_bpe_encode_is_broadcast_join_hash_agg(spark, sf_dir):
    """bpe_encode_stats: the vocab join is left to AQE (the trained
    word→token-count state is vocabulary-bounded — broadcastable in
    practice, but forcing it would OOM a pathological vocab), so the
    pin is on the ADAPTIVE final plan: broadcast hash join on w, the
    per-doc aggregate stays HashAggregate (fixed-width sum buffers),
    and no Python evaluation anywhere — encoding is one join + one
    aggregate, never a per-occurrence merge replay."""
    df = entrymod.queries()["bpe_encode_stats"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [w" in final, "AQE left the vocab join on SMJ"
    assert "SortAggregate" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_bpe_pair_stats_single_bounded_shuffle(spark, sf_dir):
    """bpe_pair_stats: pair enumeration is per-word array math, so the
    plan must be exactly one shuffle (the alphabet²-bounded pair count)
    feeding a bounded TakeOrdered — no window, no join, no sort over
    data."""
    plan = _plan(spark, sf_dir, "bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Window [" not in plan


def test_near_dup_pass2_plan_shape(spark, sf_dir):
    """Pass 2 of the two-pass near-dup build (r9): boundary selection's
    two windows share ONE exchange (rf and cf partition by the same
    keys), the kernel repartition is the second, and the narrow pass-1
    artifact joins by BROADCAST — docs/PLANS.md near_dup_rep_edges:
    exchanges=2, broadcast_joins=1, no sort-merge join."""
    from e_commerce_etl_pipeline_spark.extensions import similarity as S

    # materialize the p1 artifact first so the plan under test reads a
    # two-node scan, not the whole pass-1 build
    S.near_dup_p1_clusters(spark, sf_dir).count()
    plan = (
        S.near_dup_rep_edges(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
