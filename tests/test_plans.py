"""Physical-plan regression tests: the Catalyst properties the engine
relies on at scale must not silently regress (column pruning, predicate
pushdown, broadcast join selection)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from query_skyline_qos_flink_spark.plans import (  # noqa: F401
    corpus,
    pipeline,
    relational,
    streaming_replay,
)

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = corpus.spec(name).fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_s1_scan_prunes_columns_and_broadcasts_semijoin(spark):
    plan = _plan(spark, "s1_skyline_2d")
    assert "l_shipdate" not in plan  # unused columns never reach the scan
    assert "l_quantity" not in plan
    assert "BroadcastHashJoin" in plan  # survivor semi-join stays broadcast
    assert "CartesianProduct" not in plan
    # round 17: frontier partials merged driver-side — the 600k-row
    # groupBy(d0) exchange is gone from the default plan entirely
    assert "Exchange hashpartitioning" not in plan


def test_s7_filter_pushed_into_scan(spark):
    plan = _plan(spark, "s7_skyline_filtered")
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines and all("% 4" in l for l in scan_lines)


def test_r2_uses_broadcast_joins_not_cartesian(spark):
    plan = _plan(spark, "r2_join_topk_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # lineitem scan must not read the unused money columns
    li_scan = next(l for l in plan.splitlines() if "lineitem.parquet" in l)
    assert "l_tax" not in li_scan and "l_comment" not in li_scan


def test_e2_broadcasts_query_vectors(spark):
    plan = _plan(spark, "e2_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_r9_sessionize_single_exchange_on_user(spark):
    """lag, running sum and the per-session aggregate all ride ONE hash
    exchange on user_id — no extra shuffle, no single-partition window."""
    plan = _plan(spark, "r9_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_x_ngram_topk_is_take_ordered_not_global_sort(spark):
    """Top-k over the bigram table must be TakeOrderedAndProject (map-side
    partial k) — a global Sort of the whole aggregate would not scale."""
    plan = _plan(spark, "x_ngram_topk")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial" in plan  # map-side combine


def test_x_datapipe_prep_no_cartesian_single_doc_scan_branch(spark):
    """The composite prep pipeline: no cartesian anywhere; the persist
    fence keeps the expensive text-expression branch out of the join's
    second subtree (InMemoryTableScan on both references)."""
    plan = _plan(spark, "x_datapipe_prep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # both dedup references hit the cache


def test_r13_broadcasts_all_dims_single_shuffle(spark):
    plan = _plan(spark, "r13_regional_revenue")
    assert "CartesianProduct" not in plan
    # region/nation/customer/supplier all ride broadcast joins; the only
    # shuffle joins are lineitem-orders
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_r14_prunes_agg_side_columns_no_cartesian(spark):
    """The Q17-shaped self-join: the per-part aggregate branch must scan
    only (l_partkey, l_quantity) — dragging l_extendedprice through the
    aggregate would double the agg-side scan width at 100 TB.  The join
    itself is size-picked (broadcast at small SF via Catalyst stats,
    shuffled hash/SMJ on l_partkey at scale) — never a cartesian."""
    plan = _plan(spark, "r14_subquery_avg")
    assert "CartesianProduct" not in plan
    agg_scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and "l_extendedprice" not in l
    ]
    assert agg_scans, "agg-side scan must prune l_extendedprice"


def test_r15_single_expand_single_shuffle(spark):
    """GROUPING SETS must compile to one Expand + one hash aggregate pair
    — three separate scans/aggregations would read orders three times."""
    plan = _plan(spark, "r15_grouping_sets")
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan") == 1
    assert "SinglePartition" not in plan


def test_r16_single_exchange_no_global_sort(spark):
    """lag/lead windows partitioned by customer: one hash exchange, never
    a single-partition global window."""
    plan = _plan(spark, "r16_lag_delta")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_blocklist_broadcasts_probe_no_cartesian(spark):
    """The blocklist membership probe must be a broadcast semi-join (the
    dim is small by nature); nothing in the plan may go cartesian."""
    plan = _plan(spark, "x_blocklist_filter")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_no_window_partial_agg(spark):
    """First-occurrence selection is a map-side-combined min(struct) —
    never a row_number window (a hot span would funnel into one task)."""
    plan = _plan(spark, "x_span_dedup")
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine before the span shuffle


def test_ann_ivf_no_join_or_window_for_assignment(spark):
    """Literal-centroid assignment: no crossJoin expansion, no per-id
    window — the only joins left are the candidate equi-join."""
    plan = _plan(spark, "x_ann_ivf")
    assert "CartesianProduct" not in plan
    # exactly one Window remains: the final per-query top-k
    assert plan.count("RunningWindowFunction") <= 1


def test_weighted_mix_no_shuffle_before_aggregate(spark):
    """The mix itself is projection + explode; the only exchange in the
    plan is the final per-source summary aggregate."""
    plan = _plan(spark, "x_weighted_mix")
    assert "CartesianProduct" not in plan and "Window" not in plan
    assert "Generate explode" in plan


def test_pii_scrub_is_scan_side_only(spark):
    """Redaction is pure column expressions: no exchange, no join, no
    window anywhere in the plan."""
    plan = _plan(spark, "x_pii_scrub")
    for op in ("Exchange", "Join", "Window", "Generate"):
        assert op not in plan, f"unexpected {op} in pii scrub plan"


def test_image_neardup_shuffles_signatures_not_payloads(spark):
    """The chunk-blocking self-join reads the persisted (id, hash)
    projection (InMemoryTableScan), so the decode runs once and the join
    sides carry signatures, not binary payloads."""
    plan = _plan(spark, "x_image_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    scans = [l for l in plan.splitlines() if "InMemoryTableScan" in l]
    assert scans and all("payload" not in l for l in scans)


def test_quality_filter_scan_side_only(spark):
    """The composite quality gate is one map-only pass: no exchange, no
    join, no window — it must ride the scan at 100 TB."""
    plan = _plan(spark, "x_quality_filter")
    for op in ("Exchange", "Join", "Window"):
        assert op not in plan, f"unexpected {op} in quality filter plan"


def test_int8_codes_broadcast_scale_no_window(spark):
    """The corpus-global scale joins in as a broadcast 1-row aggregate —
    never a cartesian row expansion; the only window is the final
    per-query top-k."""
    plan = _plan(spark, "x_knn_int8")
    # the query-side crossJoin must be the broadcast nested-loop form
    # (tiny build side), never a partitioned CartesianProduct
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("RunningWindowFunction") <= 1


def test_url_dedup_single_aggregate_exchange(spark):
    """Canonicalization is scan-side regexp exprs; the plan's only
    exchange is the canonical-key aggregate with a map-side partial."""
    plan = _plan(spark, "x_url_dedup")
    assert "Join" not in plan and "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan  # map-side combine
    assert plan.count("Exchange hashpartitioning") == 1


def test_hll_distinct_no_cartesian_beyond_scalar(spark):
    """The only nested-loop join allowed is the 1-row exact-total
    broadcast; sketches merge through aggregates, not joins."""
    plan = _plan(spark, "x_hll_distinct")
    assert "CartesianProduct" not in plan
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan


def test_skyband_rides_scan_no_preshuffle(spark, monkeypatch):
    """Phase 1 of the skyband must consume the scan directly (no exchange
    between FileScan and the local-band mapInPandas).  Since r16 the
    default (small-candidate) path finishes driver-side and its final plan
    is a local relation; the phase-1 shape is asserted on the distributed
    fallback, forced by zeroing the driver-verify gate."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    monkeypatch.setattr(sky, "_DRIVER_VERIFY_MAX_ROWS", -1)
    plan = _plan(spark, "s22_skyband")
    scan_to_python = plan.index("MapInPandas") if "MapInPandas" in plan else -1
    assert scan_to_python >= 0
    assert "CartesianProduct" not in plan
    # the verify stage reads the persisted candidates, not a reshuffle of
    # the input: no hash exchange on the dim columns anywhere
    assert "Exchange hashpartitioning(__sk_" not in plan
    # and the default driver-side path produces a plan with NO exchange
    # at all (the whole result is a collected local relation)
    monkeypatch.undo()
    plan = _plan(spark, "s22_skyband")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_top_dominating_counting_scan_shape(spark):
    """Score counting is a mapInPandas over the scan + one tiny aggregate
    on candidate index — never a quadratic join against the corpus."""
    plan = _plan(spark, "s23_top_dominating")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning(__cand_idx" in plan


def test_reverse_skyline_counting_scan_shape(spark, monkeypatch):
    """Refuter counting is a mapInPandas over the scan + one tiny aggregate
    on candidate index, with the one assembly join (keyed candidates
    carrying their self counts x totals) broadcast — never a quadratic
    join against the corpus.  Since r16 the small-input default
    finishes driver-side (local-relation plan); the distributed shape is
    asserted with the whole-input gate forced off."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    monkeypatch.setattr(sky, "_DRIVER_INPUT_MAX_BYTES", -1)
    plan = _plan(spark, "s27_reverse_skyline")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning(__cand_idx" in plan
    assert "SortMergeJoin" not in plan  # the totals join stays broadcast
    # default (driver) path: no exchange at all in the final plan
    monkeypatch.undo()
    plan = _plan(spark, "s27_reverse_skyline")
    assert "Exchange" not in plan and "CartesianProduct" not in plan


def test_bm25_topk_is_take_ordered_with_broadcast_df(spark):
    """The top-10 must be TakeOrderedAndProject (map-side partial k), the
    term-df join broadcast, and no single-task window over the corpus
    (rank attaches after the limit, over 10 rows)."""
    plan = _plan(spark, "x_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kdominant_counting_scan_shape(spark):
    """Same refutation path as the reverse skyline: mapInPandas over the
    scan, one tiny aggregate on candidate index, one broadcast assembly
    join, no quadratic join."""
    plan = _plan(spark, "s28_kdominant_skyline")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning(__cand_idx" in plan
    assert "SortMergeJoin" not in plan


def test_skyline_layers_single_pass_no_joins(spark):
    """Round 16: the layered result comes from ONE local K-peel pass plus
    a driver-side exact layering of the bounded candidate set — no
    per-layer anti-join loop, no shuffle of the input on float dims, no
    window.  (The peel loop survives only as the oversized-candidate
    fallback, exercised by its own parity test.)"""
    plan = _plan(spark, "s29_skyline_layers")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan  # candidates re-enter as a LocalTableScan
    assert "Window" not in plan


def test_exact_quantiles_single_window_no_join(spark):
    """Round-6 verdict #3: the rank assembly must be ONE window partitioned
    by the literal bucket id plus literal offsets — no broadcast/shuffle
    join for the offsets, no empty-partition (single-task) global window,
    and exactly one shuffle (the bucket repartition for the local sort)."""
    plan = _plan(spark, "x_exact_quantiles")
    assert "Join" not in plan  # offsets are plan literals now
    window_lines = [l for l in plan.splitlines() if "Window" in l and "row_number" in l]
    assert window_lines and all("__b" in l for l in window_lines), window_lines
    exchanges = [
        l for l in plan.splitlines()
        if "Exchange" in l and "Broadcast" not in l and "SinglePartition" not in l
    ]
    assert len(exchanges) == 1, exchanges


def test_bpe_pair_counts_take_ordered_no_global_sort(spark):
    """Top-k merge candidates must be TakeOrderedAndProject (map-side
    partial top-k), never a global sort; rank window runs post-limit."""
    plan = _plan(spark, "x_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pmi_pairs_broadcast_vocab_no_exploded_self_join(spark):
    """The frequent-term vocabulary must broadcast into the probe join and
    pairs must come from per-doc arrays — no shuffle self-join of the
    exploded term table, no cartesian product."""
    plan = _plan(spark, "x_pmi_pairs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_embed_centroids_prunes_and_aggregates_before_join(spark):
    """Raw vectors never shuffle: the posexplode partially aggregates into
    |labels| x dim rows before any join; vec_id is pruned at the scan."""
    plan = _plan(spark, "x_embed_centroids")
    assert "vec_id" not in plan
    assert "CartesianProduct" not in plan
    assert "posexplode" in plan


def test_prob_skyline_counting_scan_no_quadratic_join(spark):
    """Probabilistic skyline must be counting scans (mapInPandas with the
    broadcast candidate matrix) + tiny keyed aggregates — never a
    quadratic instance self-join, never a SortMergeJoin of instances.
    Round 16: probabilities assemble driver-side from the bounded
    per-candidate aggregate, so the RETURNED frame is a local re-entry of
    the object rows (the counting scans run inside the operator; their
    shape is pinned by the operator's own parity tests) — the final plan
    must stay join-free."""
    plan = _plan(spark, "s30_prob_skyline")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan
    assert "LocalTableScan" in plan


def test_cdc_dedup_map_only_chunking_single_exchange(spark):
    """Chunking must be the vectorized Arrow kernel riding the scan
    partitions (map-only: no join, no row-at-a-time Python, no exchange
    before the kernel); the only exchange is the chunk_md5 groupBy."""
    plan = _plan(spark, "x_cdc_dedup")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    exchanges = [
        l for l in plan.splitlines()
        if "Exchange" in l and "Broadcast" not in l and "SinglePartition" not in l
    ]
    # exactly the two-phase exact-count-distinct shape, both keyed on the
    # chunk hash — nothing shuffles before chunking
    assert 1 <= len(exchanges) <= 2, exchanges
    assert all("chunk_md5" in l for l in exchanges), exchanges


def test_thick_skyline_broadcast_band_join_no_input_shuffle(spark):
    """The epsilon band-join must be a broadcast nested-loop against the
    tiny skyline tuple set and the core flag a broadcast equality join —
    the input never shuffles for either."""
    plan = _plan(spark, "s31_thick_skyline")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_s34_skycube_fused_single_tagging_pass(spark, monkeypatch):
    """The 4-D skycube's 14 proper subspaces must ride ONE mapInPandas
    tagging scan (per-label local skylines) into ONE grouped merge keyed
    on the subspace label — not 14 candidate semi-joins each with its own
    scan — and nothing may go cartesian or sort-merge-join.  Since r16
    the bounded default finishes the per-label merges driver-side (the
    final plan is unions of local relations); the distributed grouped
    merge is asserted with the driver gate forced off."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    monkeypatch.setattr(sky, "_DRIVER_VERIFY_MAX_ROWS", -1)
    plan = _plan(spark, "s34_skycube_4d")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the fused path replaces the per-subspace broadcast semi-joins: at
    # most the full-space skyline's own joins remain
    assert plan.count("LeftSemi") <= 2, plan.count("LeftSemi")
    # default (driver-merge) plan: no cartesian/SMJ either, and the only
    # python pass left in the FINAL plan is at most the tag scan itself
    monkeypatch.undo()
    plan = _plan(spark, "s34_skycube_4d")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_semantic_dedup_cell_equi_join_no_cartesian(spark):
    """No cartesian anywhere in the composite (the only nested-loop join
    allowed is the 1-row broadcast quantization scale), and the
    within-cell candidate stage — checked on the operator's pair subplan,
    since connected_components truncates it out of the final lineage —
    must be an equi-join keyed on the cell id."""
    plan = _plan(spark, "x_semantic_dedup")
    assert "CartesianProduct" not in plan

    from query_skyline_qos_flink_spark.operators import similarity
    from query_skyline_qos_flink_spark.operators.quantize import with_int8_codes
    from query_skyline_qos_flink_spark.session import load

    e = similarity.valid_vectors(load(spark, SF, "embeddings"), "embedding")
    coded = with_int8_codes(e, "embedding")
    cell = F.lit(0)
    for i in range(6):
        cell = cell + F.when(F.get("q8", i) < 0, F.lit(1 << i)).otherwise(F.lit(0))
    cc = coded.select(F.col("vec_id"), F.col("q8"), cell.alias("__cell"))
    a = cc.select(F.col("vec_id").alias("id_a"), F.col("q8").alias("__qa"), "__cell")
    b = cc.select(F.col("vec_id").alias("id_b"), F.col("q8").alias("__qb"), "__cell")
    pairs = a.join(b, "__cell").where(F.col("id_a") < F.col("id_b"))
    pair_plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pair_plan
    assert "__cell" in pair_plan
    joins = [l for l in pair_plan.splitlines() if "Join" in l and "Scale" not in l]
    assert any(
        "SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
        for l in joins
    ), joins


def test_r22_rank_window_partitioned_by_group(spark):
    """Per-group top-n: the rank window must partition by the group key
    (parallel by key) — never a single-partition global window — and the
    dims ride broadcast joins."""
    plan = _plan(spark, "r22_topn_per_group")
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embed_gram_single_pass_tiny_shuffle(spark):
    """The Gram matrix must be one mapInPandas pass + one keyed sum — the
    only exchange carries dim^2-sized partials, never raw vectors, and
    there is no join anywhere."""
    plan = _plan(spark, "x_embed_gram")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    exchanges = [
        l for l in plan.splitlines()
        if "Exchange" in l and "Broadcast" not in l and "SinglePartition" not in l
    ]
    assert len(exchanges) == 1 and "i#" in exchanges[0], exchanges


def test_quantiles_interp_no_join_literal_positions(spark):
    """Interpolated percentiles reuse the literal-offset rank assembly:
    no join anywhere (positions are plan literals), the only non-final
    exchange is the bucket repartition."""
    plan = _plan(spark, "x_quantiles_interp")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_spreads_keys_no_cartesian(spark):
    """The salted join must stay an equi-join on (key, salt) — the salt
    explode must not degenerate into a cartesian or nested-loop plan."""
    plan = _plan(spark, "r23_salted_skew_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pmod" in plan  # the deterministic per-row salt reaches the plan


def test_grouped_skyband_single_exchange_on_group_key(spark):
    """The grouped skyband is one hash exchange on the group key into an
    applyInPandas kernel — no broadcast-verify machinery, no join."""
    plan = _plan(spark, "s33_grouped_skyband")
    assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_event_funnel_user_keyed_no_window(spark):
    """Funnel steps are chained min-aggregates + equi-joins keyed on
    user_id: no window, no cartesian, no nested-loop."""
    plan = _plan(spark, "r24_event_funnel")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cohort_retention_no_window_small_cell_rollup(spark):
    plan = _plan(spark, "r25_cohort_retention")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_char_entropy_partial_agg_no_join_blowup(spark):
    """Char counts must partially aggregate map-side; the only join is the
    per-doc totals join (size-picked), never a cartesian."""
    plan = _plan(spark, "x_char_entropy")
    assert "partial" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_partial_agg_no_cartesian(spark):
    """The final (un-checkpointed) iteration must show the real shape:
    hash equi-joins only, and the contribution sum with a map-side
    partial aggregate — never a cartesian product or a single-partition
    funnel over the data."""
    plan = _plan(spark, "x_pagerank")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_sum" in plan  # map-side combine on the dst shuffle
    assert "Exchange SinglePartition" not in plan


def test_coreness_no_cartesian_no_single_partition(spark):
    """The final h-index round must show the real shape: a hash equi-join
    of values onto the adjacency list, a per-vertex window (hash
    partitioned on v — no global sort funnel), and a map-side partial
    max aggregate."""
    plan = _plan(spark, "x_coreness")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_max" in plan  # map-side combine on the h-index agg
    assert "Exchange SinglePartition" not in plan


def test_bfs_hops_partial_min_no_cartesian(spark):
    """The final BFS round must show the real shape: a hash equi-join of
    distances onto the adjacency list and a map-side partial min for the
    neighbor relaxation — never a cartesian or a single-partition funnel."""
    plan = _plan(spark, "x_bfs_hops")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_min" in plan  # map-side combine on the relaxation agg
    assert "Exchange SinglePartition" not in plan


def test_ann_recall_broadcast_query_side_no_cartesian_data_join(spark):
    """The exact branch broadcasts the 5-row query matrix (a
    BroadcastNestedLoopJoin over 5 rows is the intended broadcast form —
    what must NOT appear is a shuffled cartesian of base x base), and the
    hit comparison joins two <= |q| * k row sets."""
    plan = _plan(spark, "x_ann_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # query matrix and/or probe table ships broadcast
    assert "Exchange SinglePartition" not in plan


def test_integrity_checks_equi_joins_partial_counts(spark):
    """Every data-sized join must be an equi hash join (FK anti joins on
    pre-aggregated keys, the temporal-rule fact join — which runs ONCE,
    both its counts taken from a single conditional-sum pass); the only
    nested-loop joins are the six 1-row x 1-row result assemblies, and
    every count partially aggregates map-side.  (Exchange SinglePartition
    appears once per 1-row final agg — 1 row, by construction.)"""
    plan = _plan(spark, "r26_integrity_checks")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    # at most the 6 scalar-assembly BNL joins (1-row x 1-row result
    # rows; the fused temporal-rule row needs none) — the exact count is
    # an AQE/physical-planning artifact, so pin only the invariant that
    # matters: a data-sized nested loop would push the count ABOVE 6
    assert plan.count("BroadcastNestedLoop") <= 6


def test_dedup_clusters_lsh_pair_stage_equi_joins_only(spark):
    """The 100 TB dedup route must never degrade to an all-pairs shape.
    The registered query's final plan is a localCheckpoint scan (the CC
    loop truncates lineage per round — that discipline has its own
    tests), so the shape assertion targets the data-sized stage: the
    valve-capped banded candidate + exact-verify pipeline.  Band-bucket
    candidates, the hot-band pre-count, and the verify joins are all
    hash equi-joins with map-side partial aggregation — no cartesian, no
    data-sized nested loop, no single-partition funnel."""
    from query_skyline_qos_flink_spark.operators import dedup
    from query_skyline_qos_flink_spark.plans.pipeline import _LSH_MAX_BAND_DF
    from query_skyline_qos_flink_spark.session import load

    pairs = dedup.minhash_lsh_pairs(
        load(spark, SF, "documents"), threshold=0.5, max_band_df=_LSH_MAX_BAND_DF
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan  # map-side combine on the valve pre-count
    assert "Exchange SinglePartition" not in plan


def test_lsh_recall_no_cartesian_partial_agg(spark):
    """Both branches are equi-joins (inverted index / banding key) — never
    a cartesian — and the decile rollup partially aggregates map-side."""
    plan = _plan(spark, "x_lsh_recall")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial" in plan
    assert "Exchange SinglePartition" not in plan


def test_image_resize_single_scan_no_shuffle(spark):
    """resize_images never shuffles PAYLOADS: the only Exchange in the
    x_image_resize plan is the deliberate id-only round-robin fan-out
    BELOW the synthesis mapInPandas (round 15, multimodal._fanout_ids —
    8-byte ids on the wire, spreading the per-row-expensive fixture
    encode off the single input split); above synthesis the plan is
    mapInPandas chains with no Exchange.  The pure operator keeps the
    no-shuffle contract: resize_images over an already-payload-bearing
    frame plans scan + MapInPandas only."""
    plan = _plan(spark, "x_image_resize")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    # exactly one exchange, and it is the round-robin id fan-out (no
    # hash/range/single-partition shuffle anywhere)
    assert plan.count("Exchange") == 1
    assert "Exchange RoundRobinPartitioning" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning" not in plan

    # the operator itself, fed payloads directly: zero Exchange
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.multimodal import (
        resize_images,
        synth_png_payload,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "payload": [synth_png_payload(0),
                                                    synth_png_payload(1)]})
    )
    op_plan = resize_images(
        df, 8, 8
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in op_plan
    assert "Exchange" not in op_plan


def test_bpe_iteration_plan_partial_agg_and_topk(spark):
    """bpe_train's per-iteration argmax must be a map-side partial
    aggregate into TakeOrderedAndProject (1-row top-k, no global sort),
    and the merge step must be shuffle-free column expressions over the
    checkpointed vocabulary."""
    import pandas as pd
    from pyspark.sql import functions as F

    from query_skyline_qos_flink_spark.operators.text import (
        _BPE_PAIRS,
        _bpe_merge_word,
    )

    vocab = spark.createDataFrame(
        pd.DataFrame({"freq": [3, 2], "w": ["low", "new"]})
    ).select(
        "freq",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias(
            "syms"
        ),
    ).localCheckpoint(eager=True)
    argmax = (
        vocab.select("freq", F.explode(F.expr(_BPE_PAIRS)).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
    )
    plan = argmax._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan  # map-side combine before the pair shuffle
    assert "TakeOrderedAndProject" in plan  # 1-row top-k, no global sort
    merge = vocab.select("freq", _bpe_merge_word(F.col("syms"), "l", "o").alias("syms"))
    mplan = merge._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in mplan


def test_kmeans_iter_assignment_is_scan_side(spark):
    """x_kmeans_iter's final cluster report must be a pure scan of the
    persisted quantized base + literal-centroid expression + one
    aggregate: no join, no window, no cartesian product anywhere — the
    per-iteration centroid tables ride as inlined literals."""
    plan = _plan(spark, "x_kmeans_iter")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "InMemoryTableScan" in plan  # the persisted base, scanned once


def test_bpe_apply_joins_vocab_not_corpus_pairs(spark):
    """x_bpe_apply's encode join is token-stream x encoded-vocabulary —
    an equi-join (never a cartesian product) feeding one hash aggregate;
    the documents scan reads only (doc_id, text)."""
    plan = _plan(spark, "x_bpe_apply")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    doc_scans = [l for l in plan.splitlines() if "documents.parquet" in l]
    assert doc_scans and all("source" not in l for l in doc_scans)


def test_labelprop_argmax_no_window(spark):
    """x_labelprop's per-vertex argmax must be the min(struct) aggregate
    (map-side combinable), never a per-vertex row_number window; no
    cartesian products anywhere in the iterated plan."""
    plan = _plan(spark, "x_labelprop")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# Test-to-registry completeness ratchet
# ---------------------------------------------------------------------------

# Every registered query must either carry a query-specific plan pin here
# (a `_plan(spark, "<name>")` assertion) or appear below with the reason
# its shape is gated elsewhere.  The ratchet fails loud BOTH ways: a new
# registration with neither forces a conscious decision, and a stale
# exemption (a name that gains a pin, or leaves the registry) must be
# removed.  Every registered query — pinned or exempt — additionally runs
# the universal no-CartesianProduct sweep in tests/test_corpus.py.
_STREAMING = (
    "streaming-replay query: the batch-facing plan is a memory-sink read; "
    "the in-stream shape (state store, watermark, dedup operator) is gated "
    "by tests/test_pipeline_streaming.py / test_streaming*.py"
)
_FAMILY_REP = (
    "same operator code path as a pinned family representative "
    "(s1 scan-prune/broadcast-verify, s7 pushdown, s22/s27-s31/s34 pinned "
    "individually; the s9 two-phase strategies share the skyline_with_pid "
    "plan, checked in test_skyline_op.py; m1/m2's partition stats are "
    "skyline()'s plan plus one groupBy(strategy, pid) local pass, checked "
    "by test_skyline_op.py's partition-stats tests)"
)
_SCAN_AGG = (
    "map-only column expressions and/or one partially-aggregated groupBy "
    "riding the scan — no join strategy to pin beyond the universal "
    "no-cartesian sweep (test_corpus) and the scan-pruning conftest checks"
)
_OP_LEVEL = (
    "shape pinned at operator level (the registered plan ends in a "
    "localCheckpoint scan or the stage is built directly): see "
    "test_pipeline_ops.py / test_prefix.py / test_joins.py / "
    "test_bloom.py / test_skyline_op.py plan assertions"
)
_SQL_SURFACE = (
    "relational SQL-surface query where the Catalyst-chosen strategy IS "
    "the intended plan (grouping sets / windows / setops / pivot compile "
    "to canonical shapes); covered by the universal no-cartesian sweep"
)
PLAN_PIN_EXEMPT = {
    # streaming replay family
    **{n: _STREAMING for n in (
        "s11_stream_replay", "s12_stream_replay_3d", "s13_stream_window",
        "s14_stream_dedup", "s15_stream_join", "s16_stream_session",
        "s17_stream_static_dedup", "s18_stream_upsert",
        "s19_stream_interval_join", "s20_stream_dedup_watermark",
        "s21_stream_scrub", "s25_stream_skyband", "s32_stream_cdc_dedup",
        "s35_stream_cdc_watermark", "s36_stream_metrics",
        "s37_stream_warc_tail",
    )},
    # skyline family representatives carry the pins
    **{n: _FAMILY_REP for n in (
        "s2_skyline_maxdir", "s3_skyline_3d", "s4_skyline_4d",
        "s5_skyline_part", "s6_skyline_events_ts", "s8_skyline_groupwise",
        "s9_twophase_angle", "s9_twophase_dim", "s9_twophase_grid",
        "s10_snapshot_10000", "s24_dynamic_skyline",
        "m1_partition_stats", "m2_strategy_stats",
    )},
    # relational SQL surface
    **{n: _SQL_SURFACE for n in (
        "r1_agg_pricing_summary", "r3_window_running", "r4_semi_anti_join",
        "r5_rollup_counts", "r6_orders_by_year", "r7_json_extract",
        "r8_setops_nations", "r10_percentiles", "r17_pivot_priority",
        "r18_ntile_deciles", "r19_range_frame", "r20_recursive_cte",
        "r21_unpivot_measures",
    )},
    # operator-level plan assertions gate the real stage
    **{n: _OP_LEVEL for n in (
        "r11_asof_join", "r12_range_join",  # test_joins.py pins as-of/range
        "x_bloom_prune_semi",  # test_bloom.py pins the bloom-semi shape
        "x_corpus_shuffle", "x_seq_packing",  # test_prefix.py bucketed rank
        "x_cosine_neardup",  # bucketed-pairs plan pin, test_pipeline_ops:236
        "x_dedup_clusters_lsh", "x_dedup_sweep",
        "x_bpe_train_k",  # CC/BPE loops end in checkpoint scans; stage +
        # storage-release contracts in test_pipeline_ops/test_caching
        "x_triangle_count",  # orientation join shape, test_pipeline_ops
        "e1_dedup_exact",  # exact_dedup no-window contract, test_pipeline_ops
    )},
    # scan + partial-agg shapes (no join to pin)
    **{n: _SCAN_AGG for n in (
        "e3_text_stats", "x_ann_blocked", "x_ann_multiprobe",
        "x_audio_features", "x_bigram_lm_score", "x_clean_text",
        "x_contamination", "x_dedup_normalized", "x_doc_chunks",
        "x_domain_stats", "x_embed_quantize8", "x_fuzzy_match",
        "x_gif_frame_colors", "x_heavy_hitters", "x_histogram",
        "x_image_ahash_dedup", "x_jpeg_ahash_dedup", "x_kmv_distinct",
        "x_knn_int8_rerank", "x_langid", "x_minhash_lsh_pairs",
        "x_multimodal_meta", "x_pattern_counts", "x_warc_extract",
        "x_archive_extract",
        "x_profile_columns", "x_repetition", "x_sample_stratified",
        "x_simhash_pairs", "x_snapshot_diff", "x_text_quality",
        "x_tfidf_topterms", "x_token_stats", "x_train_test_split",
        "x_winnow_pairs", "x_zorder_stats",
    )},
}


def test_every_registered_query_plan_pinned_or_exempt():
    import re

    src = open(__file__).read()
    pinned = set(re.findall(r'_plan\(spark,\s*"([a-z0-9_]+)"', src))
    registered = set(corpus.REGISTRY)
    missing = sorted(registered - pinned - set(PLAN_PIN_EXEMPT))
    assert not missing, (
        f"registered queries with neither a _plan pin in test_plans.py nor "
        f"a PLAN_PIN_EXEMPT entry: {missing} — add a plan-shape test or an "
        "exemption with the reason its shape is gated elsewhere"
    )
    stale = sorted(set(PLAN_PIN_EXEMPT) - registered)
    assert not stale, f"PLAN_PIN_EXEMPT names not in the registry: {stale}"
    double = sorted(set(PLAN_PIN_EXEMPT) & pinned)
    assert not double, f"exempt AND pinned (drop the exemption): {double}"
