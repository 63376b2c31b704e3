"""Plan-shape canaries for declared queries: the properties that make
these plans scale are asserted, not assumed, so an innocent-looking
refactor (or Catalyst behavior change) that silently degrades a plan
fails by name.

Each assertion encodes a fix or a design decision with a history:
duplicated JsonToStructs cost r5 a phantom 5s; a dimension join that
stops broadcasting becomes a sort-merge shuffle of the fact table at
100 TB; a similarity query that regresses to CartesianProduct is the
canonical non-scalable plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_suite.queries import QUERIES

from conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name].build(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_json_parse_props_parses_once(spark):
    # the explode(array(..)) Generate barrier must keep projection
    # collapse from re-inlining from_json into the Either guard
    assert _plan(spark, "json_parse_props").count("from_json") == 1


def test_enrich_join_broadcasts_the_dimension(spark):
    plan = _plan(spark, "p5_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_sort_limit_compiles_to_take_ordered(spark):
    # sort+limit must fuse into TakeOrderedAndProject (per-partition
    # top-N + driver merge), never a global sort of the full table
    assert "TakeOrderedAndProject" in _plan(spark, "rel_sort_limit")


@pytest.mark.parametrize(
    "name",
    ["dp_cosine_topk", "dp_near_dup_minhash", "dp_embed_near_dup", "rel_asof_join"],
)
def test_no_cartesian_products(spark, name):
    assert "CartesianProduct" not in _plan(spark, name)


@pytest.mark.parametrize("name", ["rel_range_join", "dp_decontaminate"])
def test_new_joins_never_nested_loop(spark, name):
    # range_join exists to avoid the BroadcastNestedLoopJoin a raw
    # inequality join compiles to; contamination's collision join is
    # an equi-join on the gram by construction
    plan = _plan(spark, name)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    # the eval side is tiny by definition; if this stops broadcasting,
    # the full train gram explode shuffles at 100 TB
    assert "BroadcastHashJoin" in _plan(spark, "dp_decontaminate")


def test_stream_static_dim_join_broadcasts(spark):
    # the BATCH shape of the stream-static join's per-trigger plan:
    # events fact joined to the customer dim must broadcast the dim
    from pyspark.sql import functions as F

    from pipz_spark.sources.catalog import load_table

    ev = load_table(spark, "events", SF_DIR)
    dim = load_table(spark, "customer", SF_DIR).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plan = (
        ev.join(F.broadcast(dim), "user_id", "inner")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_pricing_summary_pushes_filter_and_prunes(spark):
    # the Q1 shape's whole value is one pruned scan + partial agg: the
    # shipdate predicate must reach the scan's DataFilters (Catalyst
    # rewrites the date-cast comparison into a raw timestamp bound)
    # and the scan must not read l_orderkey/l_partkey/l_suppkey.
    # Built at sf0.01, NOT the fixtures' SF_DIR: the conftest fixtures
    # cache() the sf0.001 tables, and Spark's CacheManager substitutes
    # the InMemoryRelation into any later plan over the same logical
    # scan — legitimately hiding the FileScan this test asserts on
    # (order-dependent flake caught in the full-suite run).
    df = QUERIES["rel_pricing_summary"].build(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 1
    scan = plan[plan.index("FileScan") :]
    assert "l_shipdate" in scan.split("ReadSchema")[0]
    assert "l_partkey" not in scan


def test_shipping_priority_take_ordered_no_global_sort(spark):
    # Q3's top-10 must be TakeOrderedAndProject (per-partition top-N),
    # never a full Sort of the grouped output
    plan = _plan(spark, "rel_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["rel_anti_join", "rel_semi_join"])
def test_membership_joins_broadcast_filtered_probe(spark, name):
    # the urgent-orders side is filtered and broadcastable; if these
    # regress to SMJ the full customer table sorts at 100 TB for a
    # membership test
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_range_single_exchange(spark):
    # the value-bounded frame needs exactly one hash exchange on the
    # partition key — a second exchange means the frame re-shuffled
    plan = _plan(spark, "rel_window_range")
    assert plan.count("Exchange hashpartitioning") == 1


def test_jaccard_shuffles_hashed_grams_not_strings(spark):
    # candidate stages key on xxhash64(gram) longs; if the raw 5-word
    # gram strings reappear in an exchange the shuffle payload grows
    # ~5-8x (the r6 15s -> 4s fix)
    plan = _plan(spark, "dp_jaccard_ngram")
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_exists_subquery_rewrites_to_semi_and_anti_joins(spark):
    # RewritePredicateSubquery must turn EXISTS/NOT EXISTS into hash
    # joins — a surviving per-row subquery would re-scan orders once
    # per customer row at 100 TB
    plan = _plan(spark, "rel_exists_subquery")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Subquery" not in plan


def test_scalar_subquery_decorrelates_to_one_aggregate(spark):
    # the correlated per-customer mean must decorrelate into ONE
    # groupBy(o_custkey) aggregate joined back — never a scalar
    # subquery evaluated per row
    plan = _plan(spark, "rel_scalar_subquery")
    assert "HashAggregate" in plan
    assert "Subquery" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_cube_expands_single_scan_with_partial_agg(spark):
    # all four grouping sets of the cube must come from ONE scan via
    # Expand (not four scans), with map-side partial aggregation
    # before the single exchange — the shape that reads 100 TB once
    plan = _plan(spark, "rel_cube")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan


def test_multi_count_distinct_expands_single_scan(spark):
    # RewriteDistinctAggregates: one Expand feeding the two-phase
    # aggregate — three separate scans of lineitem would triple the
    # dominant cost
    plan = _plan(spark, "rel_multi_count_distinct")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_events_funnel_join_is_unhinted_equi_join(spark):
    # the per-user signup frame GROWS with the fact table, so the
    # join must NOT carry a forced broadcast hint (it would OOM at
    # the 100 TB posture — r6 advisor finding). AQE picks broadcast
    # at runtime while the frame is small; the canary pins only what
    # holds at every scale: an equi-join on user_id, never a
    # nested-loop/cartesian, under an adaptive root.
    plan = _plan(spark, "events_funnel")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "AdaptiveSparkPlan" in plan


def test_retention_join_unhinted_and_dedups_once(spark):
    # same scaling contract as the funnel: no forced broadcast of the
    # |users|-sized cohort frame; the activity distinct stays one
    # aggregate, not a shuffle per reference
    plan = _plan(spark, "events_retention")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "AdaptiveSparkPlan" in plan


def test_setops_all_uses_generate_replication(spark):
    # INTERSECT ALL / EXCEPT ALL lower to the count-tagged aggregate +
    # Generate replication — a CartesianProduct or nested loop here
    # would mean the multiset semantics regressed to a join
    plan = _plan(spark, "rel_setops_all")
    assert "Generate" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    # hive-style partitioned layout + a partition-column filter must
    # prune at PLANNING time (PartitionFilters on the scan), reading
    # only the matching directory — at 100 TB this is the difference
    # between scanning one priority and scanning all of them
    from pipz_spark.sources.catalog import load_table
    from pipz_spark.sources.sinks import write_parquet

    orders = load_table(spark, "orders", SF_DIR)
    path = str(tmp_path / "orders_part")
    write_parquet(
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        path,
        partition_by=["o_orderpriority"],
    )
    back = spark.read.parquet(path).where(F.col("o_orderpriority") == "1-URGENT")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderpriority" in plan.split(
        "PartitionFilters"
    )[1][:200]
    n_urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert back.count() == n_urgent


def test_top_paths_single_window_pass_no_self_join(spark):
    # the 3-step paths come from two lead() offsets over ONE
    # user-partitioned sort — a self-join formulation would scan and
    # shuffle events three times
    plan = _plan(spark, "events_top_paths")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_anomaly_broadcasts_stats(spark):
    # the per-type stats frame is |event_type|-sized; a sort-merge
    # join here would shuffle the full events table for a 5-row build
    plan = _plan(spark, "events_anomaly")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_tokens_single_scan_no_shuffle(spark):
    # one Arrow-batched projection over the scan: no aggregation, no
    # join, no exchange beyond fan_out's optional round-robin
    # rebalance of an under-partitioned local file
    plan = _plan(spark, "dp_bpe_tokens")
    assert "ArrowEvalPython" in plan  # the vectorized UDF, not row-wise
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_cross_embed_no_cartesian_in_bucket_scoring(spark):
    # candidates come from the bucket groupBy (FlatMapGroupsInPandas),
    # never a pairwise join of the two corpora
    plan = _plan(spark, "dp_cross_embed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_budget_cap_never_sorts_globally(spark):
    # the GLOBAL form must use the two-phase bucketed cumsum — a
    # single-partition global window (Exchange SinglePartition into a
    # Sort+Window) is exactly the 100 TB cliff it exists to avoid
    plan = _plan(spark, "dp_budget_cap")
    assert "SinglePartition" not in plan
    assert "Window" in plan  # within-bucket windows still present


def test_mixture_rates_broadcast_never_shuffle_the_corpus(spark):
    # rates are a |strata|-row frame: they must reach the fact scan
    # via BroadcastHashJoin, never a SortMergeJoin of the corpus
    plan = _plan(spark, "dp_mixture_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repeated_spans_no_cartesian(spark):
    plan = _plan(spark, "dp_repeated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_dedup_explode_carries_digests_not_text(spark):
    # the global keep decision shuffles (md5, id, idx) metadata
    # through a partial-aggregating min(struct) + a digest-keyed join;
    # document text reappears only in the final id-keyed rebuild join
    # — never in a cartesian
    plan = _plan(spark, "dp_line_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the r9 verdict's one scale-killer: a row_number window
    # partitioned by the line digest puts the hottest boilerplate
    # line's every occurrence into ONE window sort with no AQE skew
    # rescue. The keep-first decision must be an aggregate (map-side
    # partial collapse) + join (AQE skew-splittable) — no Window node
    # anywhere in the plan.
    assert "Window" not in plan
    assert "Generate" in plan  # the posexplode of per-line digests


def test_line_dedup_scan_filter_stays_cheap(spark):
    # DIVERGENCES #20: a derived-predicate gate above fan_out gets
    # pushed through Project AND RoundRobin Repartition into the scan,
    # where it re-runs the whole tokenize+slice pipeline on the
    # scan's (possibly single) split — measured 176 s single-task at
    # the 100× stress. The blank-doc gate must reach the FileScan as
    # the cheap rlike predicate, never as the line-materialization
    # expression tree.
    plan = _plan(spark, "dp_line_dedup")
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, "expected a parquet FileScan in the plan"
    for ln in scan_lines:
        assert "transform(" not in ln and "slice(" not in ln, (
            "line-materialization expressions leaked into the scan's "
            "pushed DataFilters: " + ln[:200]
        )


def test_bm25_scan_filter_stays_cheap(spark):
    # DIVERGENCES #20, bm25 edition (r10 advice): the blank-doc gate
    # must reach the FileScan as the cheap rlike predicate on the raw
    # text column — never as the derived size(filter(split(trim)))
    # tree, which would re-run the tokenize pipeline inside the scan
    # on its (possibly single) split.
    plan = _plan(spark, "dp_bm25_topk")
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, "expected a parquet FileScan in the plan"
    for ln in scan_lines:
        assert "split(" not in ln and "filter(" not in ln, (
            "tokenize expressions leaked into the scan's pushed "
            "DataFilters: " + ln[:200]
        )


def test_bm25_stats_broadcast_never_shuffle_postings(spark):
    # query terms, df table, and corpus stats are all broadcast-small;
    # the postings stream must meet them via BroadcastHashJoin and a
    # broadcast nested-loop for the single-row stats cross join —
    # never a SortMergeJoin of the postings
    plan = _plan(spark, "dp_bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ccnet_buckets_rank_rides_range_exchange(spark):
    # the CCNet tier machine must rank via the explicit range exchange
    # (bounded tasks under language skew), never a per-language window
    # over the full frame — and nothing may cross-join
    plan = _plan(spark, "dp_ccnet_buckets")
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_dsir_scores_through_broadcast_lr_table(spark):
    # the 4096-row log-ratio table must meet the corpus token stream
    # as a broadcast build side; the corpus never shuffles for scoring
    plan = _plan(spark, "dp_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_is_pure_projection(spark):
    # the final Lloyd assignment must be literal-centroid codegen over
    # the scan — no join, no exchange, no cartesian. The iterative
    # state (k × dims numbers) lives on the driver, never in the plan;
    # a join or shuffle appearing here means the centroids stopped
    # being literals and the one-pass-per-iteration contract broke
    plan = _plan(spark, "dp_kmeans")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_priority_sample_take_ordered_with_pushed_weight_filter(spark):
    # top-n must be a TakeOrdered (never a global sort) and the
    # weight gate must compare the RAW column — a cast in the
    # predicate would strand the filter post-scan. When another test
    # has CACHED the documents table, Spark substitutes the
    # InMemoryRelation and parquet pushdown legitimately disappears;
    # the cast-free predicate claim still holds and is asserted on
    # the Filter node either way.
    plan = _plan(spark, "dp_priority_sample")
    assert "TakeOrderedAndProject" in plan
    # the τ estimator attaches a ONE-ROW broadcast scalar (its
    # BroadcastExchange is fine); the corpus itself must never hash-
    # shuffle or sort-merge — only TakeOrdereds touch it
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    filt = [ln for ln in plan.splitlines() if "Filter" in ln and "n_chars" in ln]
    assert filt, "expected a filter on the weight column"
    assert all("cast(n_chars" not in ln for ln in filt), filt
    if "InMemoryTableScan" not in plan:
        assert "GreaterThan(n_chars,0)" in plan


def test_exact_split_rides_range_exchange(spark):
    # the split ranks via the distributed rank machine's explicit
    # range exchange — never a per-group window over the full frame
    plan = _plan(spark, "dp_exact_split")
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_scoring_is_pure_projection(spark):
    # the trained-weights scoring pass must be element_at lookups into
    # a weight-vector LITERAL over the PERSISTED hashed-feature frame
    # (r16 perf pass: features are md5-hashed once, fan_out-rebalanced
    # and cached; epochs and the final scoring read pre-hashed ints) —
    # no join, no hash/range exchange (the iterative state lives on
    # the driver, like dp_kmeans; the only exchange anywhere is
    # fan_out's round-robin rebalance inside the cached relation)
    plan = _plan(spark, "dp_quality_classifier")
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_combine_map_side(spark):
    # each Pregel iteration's contribution aggregate must partial-
    # aggregate before its exchange (the shuffle carries at most
    # partitions x distinct-dst rows), the node joins must be
    # equi-joins (never a cartesian), and the whole machine must be
    # pure JVM — per-node state never touches Python or the driver
    plan = _plan(spark, "dp_pagerank")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_hll_registers_combine_map_side(spark):
    # the register max must partial-aggregate map-side (the exchange
    # is bounded at groups x 256 rows at ANY corpus size) and the
    # whole sketch is codegen expressions — no Python, no cartesian
    plan = _plan(spark, "dp_hll_distinct")
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_clf_keep_is_projection_plus_filter(spark):
    # the keep rule rides the classifier's pure-projection scoring:
    # trained weights are plan literals, the accept predicate is one
    # more codegen expression — no join, no hash/range exchange, no
    # cartesian (dp_quality_classifier's canary, preserved through
    # the filter; the persisted-feature round-robin rebalance is the
    # only exchange, see that canary)
    plan = _plan(spark, "dp_clf_keep")
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_decontam_corpus_side_has_no_join(spark):
    # the operator's whole point vs dp_decontaminate: the bitmap is
    # an array LITERAL in the projection, so the corpus plan is
    # scan -> explode -> codegen bit test -> one partial-combined
    # count — no join operator anywhere, no Python
    plan = _plan(spark, "dp_bloom_decontam")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "partial_count" in plan


def test_pca_scoring_is_pure_projection(spark):
    # the returned plan must be scan -> filter -> codegen projection:
    # the scatter matrix was collected at build time (bounded d^2
    # rows) and the iteration vector rides as an array literal — no
    # join, no exchange, no Python (the kmeans/classifier stance)
    plan = _plan(spark, "dp_pca_project")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_triangles_no_cartesian_and_combines_map_side(spark):
    # orientation makes every stage an equi-join (wedge self-join
    # keys on the center node; the order filter is a post-join
    # predicate, NEVER a cartesian) and the final per-node count
    # must partial-aggregate before its exchange; pure JVM throughout
    plan = _plan(spark, "dp_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_labelprop_iterations_combine_map_side(spark):
    # each propagation round's MIN must partial-aggregate map-side
    # (idempotent min collapses each partition to one candidate per
    # node before the exchange); equi-joins only; pure JVM
    plan = _plan(spark, "dp_components")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_winnow_is_one_shuffle_free_projection(spark):
    # the whole selection is codegen array expressions: no join, no
    # Python, and the ONLY exchange permitted is fan_out's round-robin
    # rebalance of an under-partitioned scan (r16 perf pass: without
    # it the O(tokens·w) md5/window math serialized on ONE core at
    # sf0.1 — the dedup/text family's measured lesson; on a many-split
    # scan fan_out is a no-op and the plan is exchange-free). No
    # hash/range partitioning may appear: the selection itself never
    # shuffles. The staged projections must SURVIVE CollapseProject —
    # exactly one md5 in the plan means the gram hash array is
    # computed once per row, not once per window (the
    # single-projection formulation re-evaluates it per window:
    # O(n²·w) per doc)
    plan = _plan(spark, "dp_winnow")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("md5") == 1
    assert plan.count("split(trim") == 1


def test_hits_iterations_combine_map_side(spark):
    # each half-iteration's Σ must partial-aggregate before its
    # exchange (the pagerank family's map-side discipline); all
    # joins equi (never cartesian); pure JVM
    plan = _plan(spark, "dp_hits")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_readability_is_pure_projection(spark):
    # two quantized IEEE chains over regexp counts — one codegen
    # projection + filter, no exchange, no join, no Python
    plan = _plan(spark, "dp_readability")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan


def test_kll_build_rides_the_range_exchange(spark):
    # the sketch build must rank via grouped_rank's range exchange
    # (bounded tasks under any group skew), NEVER a per-group window
    # sort of the corpus; downstream windows run over sketch rows
    # only; pure JVM end to end
    plan = _plan(spark, "dp_kll_quantiles")
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_winnow_overlap_join_is_df_capped(spark):
    # the fp_hash equi-join must sit behind the train-side df-cap
    # (hot boilerplate prints are dropped BEFORE pairing — without it
    # a web-boilerplate corpus turns fp_hash into a skewed hot key
    # whose fan-out is train_df × eval_df); the df count itself must
    # partial-aggregate map-side, and nothing may go cartesian
    plan = _plan(spark, "dp_winnow_overlap")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # two-phase df count
    assert "<= 64" in plan  # the cap filter survived into the plan
    assert "ArrowEvalPython" not in plan


def test_jl_project_is_pure_projection(spark):
    # the sign matrix rides the plan as literals; the projection is
    # zip_with/aggregate folds in codegen — no exchange, no join,
    # no Python (the classifier-weights stance)
    plan = _plan(spark, "dp_jl_project")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_blocklist_is_pure_projection(spark):
    # the blocklist is ONE array literal; membership is codegen
    # array_intersect — no join, no exchange, no Python
    plan = _plan(spark, "dp_blocklist")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan


def test_kcore_rounds_combine_map_side(spark):
    # each peel round's degree count must partial-aggregate before
    # its exchange and the survivor filters must stay semi-joins —
    # never a cartesian; pure JVM
    plan = _plan(spark, "dp_kcore")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "LeftSemi" in plan
    assert "ArrowEvalPython" not in plan


def test_heavy_hitters_build_rides_the_range_exchange(spark):
    # the MG build's prune must rank the exact counts via
    # grouped_rank's range exchange (bounded tasks under any key
    # skew), never a one-task-per-group window sort of the key
    # space; the exact counts themselves must partial-aggregate
    # map-side; everything equi-joined, pure JVM
    plan = _plan(spark, "dp_heavy_hitters")
    assert "rangepartitioning" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_image_near_dup_is_banded_never_cartesian(spark):
    # candidates must come from (band, chunk) equi-buckets via the
    # chunk-grid pair machine — a regression to all-pairs is THE
    # canonical non-scalable plan; the only Python is the Arrow-
    # batched aHash projection (mapInPandas), never row-at-a-time
    plan = _plan(spark, "dp_image_near_dup")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" not in plan  # no row-at-a-time UDF


def test_theta_diff_sketches_ride_the_range_exchange(spark):
    # both period sketches' bottom-k selections must rank distinct
    # hashes via grouped_rank's range exchange (bounded tasks); the
    # distinct-hash aggregate partial-aggregates map-side; the set
    # stage joins sketch rows only — nothing cartesian, pure JVM
    plan = _plan(spark, "dp_theta_diff")
    assert "rangepartitioning" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_label_prop_argmax_is_struct_min_never_a_window(spark):
    # the per-node mode vote must be the partial-aggregatable
    # struct-MIN of (-cnt, label) — a regression to a row_number
    # window would sort the whole (node, label) frame per round
    # (3 windows at corpus scale); counts partial-aggregate
    # map-side; everything equi-joined, pure JVM
    plan = _plan(spark, "dp_label_prop")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_bfs_hops_min_fold_partial_aggregates(spark):
    # each BFS round's MIN(dist) must combine map-side (idempotent
    # merge: the exchange carries one candidate per partition-node,
    # not one per edge); frontier joins stay equi-joins
    plan = _plan(spark, "dp_bfs_hops")
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_rrf_fusion_fold_combines_map_side(spark):
    # the per-(query, doc) contribution list must partial-aggregate
    # (ObjectHashAggregate partial_collect_list) before the fusion
    # exchange — the fused frame is N·k rows per query, never a
    # corpus-sized shuffle; the only window ranks those fused rows
    plan = _plan(spark, "dp_rrf_fusion")
    assert "partial_collect_list" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_kcenter_assignment_is_join_free_codegen(spark):
    # the returned assignment must be a pure literal-center
    # projection over the scan — no join, no exchange, no Python:
    # the k selected centers ride the plan as array literals
    # (the kmeans assignment discipline)
    plan = _plan(spark, "dp_kcenter")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_sssp_min_fold_partial_aggregates(spark):
    # the weighted min-plus rounds share bfs_hops' shape: idempotent
    # MIN combines map-side, frontier joins stay equi-joins, and the
    # weight rides the single edge projection (no second scan key)
    plan = _plan(spark, "dp_sssp")
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_link_predict_wedges_combine_before_exchange(spark):
    # the pair count must partial-aggregate map-side (the exchange
    # carries combined (a, b, partial) rows, never raw wedges), the
    # existing-edge drop must be an anti join, and nothing cartesian
    plan = _plan(spark, "dp_link_predict")
    assert "partial_count" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_corpus_cleaning_runs_its_udf_once_over_one_scan(spark, documents):
    # the corpus_dedup benchmark's cleaning sequence. python_apply and
    # exact_dedup are one branch each: an ok/failed split unioned back
    # (or a keeper self-join) re-derives the whole lineage per branch,
    # so the normalizer UDF ran six times per row over four scans.
    # "Scan parquet" also counts the scan printed inside an
    # InMemoryTableScan of the cached fixture.
    plan = _cleaning_step()(documents)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1  # the dedup window's
    assert "Union" not in plan and "Join" not in plan


def test_flat_map_expands_over_one_scan(spark, documents):
    # dead-lettered input rows ride the lateral masked off instead of
    # a second, unioned passthrough branch over the same scan
    from pipz_spark import P
    from pipz_spark.functions import python_flat_map

    gate = P.apply("gate", error_when=F.length("text") < 200, message="short")
    step = python_flat_map(
        "split", lambda t: [(w,) for w in t.split()[:3]], ["text"], "chunk string",
        keep=["doc_id"],
    )
    plan = step(gate(documents))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("EvalPythonUDTF") == 1
    assert "Union" not in plan


def test_near_dup_verify_is_one_python_eval(spark, documents):
    # the verify scores each candidate on its two texts in ONE Arrow
    # UDF, where the candidate lands; a deterministic UDF let the
    # jaccard >= threshold filter be pushed under its projection and
    # the plan scored every candidate twice. The only other Python
    # eval is the signature, printed once per scan of the cached doc
    # frame
    from pipz_spark.datapipe import cross_near_dup_pairs, near_dup_pairs, release_caches

    odd = F.col("doc_id") % 2 == 1
    try:
        for pairs in (
            near_dup_pairs(documents, threshold=0.7),
            cross_near_dup_pairs(documents.where(odd), documents.where(~odd), threshold=0.7),
        ):
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
            assert sum("jaccard(" in ln for ln in evals) == 1
            assert all("jaccard(" in ln or "minhash(" in ln for ln in evals)
            assert "array_intersect" not in plan
    finally:
        release_caches()


def _path_to(node, match: str) -> list[str] | None:
    """One-line strings of the physical plan nodes from ``node`` down
    to the first node whose line holds ``match`` (AQE stages, reused
    exchanges and the adaptive root are looked through), or None."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _path_to(node.executedPlan(), match)
    if name.endswith("QueryStage"):
        return _path_to(node.plan(), match)
    line = node.simpleString(50)
    if match in line:
        return [line]
    kids = node.children()
    if name == "ReusedExchange":
        kids = [node.child()]
    else:
        kids = [kids.apply(i) for i in range(kids.size())]
    for kid in kids:
        below = _path_to(kid, match)
        if below is not None:
            return [line] + below
    return None


def test_cross_with_index_never_shuffles_the_whole_reference(spark, documents, tmp_path):
    # a stored index carries no text, so the survivors' reference
    # texts are joined from the reference corpus. The ref scan must be
    # semi-join pruned to the survivors' ref ids (broadcast) BEFORE
    # any exchange: the incremental case is a small batch against a
    # huge corpus, and shuffling every reference text per batch would
    # dwarf the batch
    from pipz_spark.datapipe import cross_near_dup_pairs, minhash_signatures_df, release_caches

    odd = F.col("doc_id") % 2 == 1
    documents.where(~odd).select("doc_id", "text").write.parquet(str(tmp_path / "corpus_ref"))
    ref = spark.read.parquet(str(tmp_path / "corpus_ref"))
    minhash_signatures_df(ref, num_hashes=120).write.parquet(str(tmp_path / "sig_index"))
    idx = spark.read.parquet(str(tmp_path / "sig_index"))
    new = documents.where(odd)
    try:
        pairs = cross_near_dup_pairs(new, ref, threshold=0.7, ref_sigs=idx)
        got = sorted(map(tuple, pairs.collect()))
        assert got and got == sorted(
            map(tuple, cross_near_dup_pairs(new, ref, threshold=0.7).collect())
        )
        # the batch side reads the cached fixture and the index reads
        # (_id, _sig): the one parquet scan of doc_id is the reference
        path = _path_to(pairs._jdf.queryExecution().executedPlan(), "FileScan parquet [doc_id")
        assert path is not None, "the reference text scan is not in the plan"
        above_scan = list(reversed(path[:-1]))
        first_exchange = next(
            (i for i, ln in enumerate(above_scan) if "Exchange" in ln), len(above_scan)
        )
        assert any("LeftSemi" in ln for ln in above_scan[:first_exchange]), path
    finally:
        release_caches()


def test_dedup_clusters_labels_scan_no_python_rdd(spark):
    # the driver union-find's labels land through Arrow as a local
    # relation: a frame built from a Python list (or from an EMPTY
    # pandas frame, which createDataFrame does not send through Arrow)
    # is a PythonRDD scan that starts Python workers on every
    # evaluation of a plan that has no Python UDF
    from pipz_spark.datapipe import dedup_clusters, release_caches

    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    edges = spark.range(4).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    try:
        out = dedup_clusters(docs, pairs=edges)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
        assert out.where("is_keeper").count() == 6
        # no pairs: the empty labels frame is a local relation too, so
        # the optimizer drops its join outright
        out = dedup_clusters(docs, pairs=edges.where("id_a < 0"))
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan and "Join" not in plan
        assert out.where("is_keeper").count() == 10
    finally:
        release_caches()


def _projects(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("Project [")


def _events_step():
    # the events_stream benchmark's Step: apply + expression-mode switch
    from pipz_spark import P

    return P.sequence(
        "events",
        P.apply("json-valid", error_when=F.get_json_object("props", "$").isNull(),
                message="malformed props"),
        P.switch("route", F.col("event_type"), {
            "click": {"weight": F.lit(1).cast("long")},
            "view": {"weight": F.lit(0).cast("long")},
            "purchase": {"weight": F.col("value"),
                         "page": F.get_json_object("props", "$.page").cast("long")},
        }),
    )


def _cleaning_step():
    # the corpus_dedup benchmark's cleaning Sequence
    from pipz_spark import P
    from pipz_spark.datapipe import exact_dedup, lang_id, quality_score, token_count
    from pipz_spark.functions import python_apply

    gate = P.apply(
        "quality-gate",
        error_when=(F.col("n_tokens") < 5) | (F.col("quality") < 0.1),
        message="low quality",
    )
    normalize = python_apply(
        "normalize", lambda t: " ".join(t.split()), ["text"], "string", output="text_norm"
    )
    return P.sequence(
        "clean", token_count(), quality_score(), gate, lang_id(), normalize,
        exact_dedup(text_col="text_norm"),
    )


def test_every_column_only_step_is_one_guarded_projection(spark):
    # each column-only Step lowers through one helper to ONE withColumns;
    # race/contest/fallback stage their per-row winner, and a switch its
    # computed key (one Project), and drop it again (another)
    from pipz_spark import P
    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.datapipe import deterministic_split, minhash_signature, simhash
    from pipz_spark.testing import MockStep, chaos_step

    df = ensure_error_column(
        spark.range(6).select("id", F.lit("a b c d e f").alias("text"),
                              (F.col("id") % 3).cast("string").alias("k"))
    )
    A = P.Attempt
    attempts = [A("one", {"v": F.col("id")}, fail_when=F.col("id") > 2),
                A("two", {"v": F.col("id") * 2})]
    one = {
        "transform": P.transform("t", {"v": F.col("id") + 1}),
        "apply": P.apply("a", {"v": F.col("id")}, error_when=F.col("id") > 4),
        "effect": P.effect("e", error_when=F.col("id") > 4),
        "mutate": P.mutate("m", {"id": F.col("id") + 1}, F.col("k") == "1"),
        "filter_if": P.filter_if("f", F.col("k") == "1", {"v": F.lit(1)}),
        "switch": P.switch("s", F.col("k"), {"0": {"v": F.lit(0)}, "1": {"w": F.lit(1)}},
                           default={"v": F.lit(9)}),
        "concurrent": P.concurrent("c", {"l": {"x": F.col("id")}},
                                   reducer=lambda r: {"v": r["l"]["x"] * 2}),
        "chaos": chaos_step("ch", failure_rate=0.5, key_col="id"),
        "mock": MockStep("mk").with_updates({"v": F.lit(1)}),
        "minhash": minhash_signature(num_hashes=4),
        "simhash": simhash(),
        "split": deterministic_split("sp", "id", {"a": 0.5, "b": 0.5}),
    }
    base = _projects(df)
    for name, step in one.items():
        assert _projects(step(df)) - base == 1, name
    for step in (P.race("r", attempts), P.fallback("fb", attempts),
                 P.contest("ct", lambda u: u["v"] > 1, attempts),
                 P.switch("sk", F.upper(F.col("k")), {"0": {"v": F.lit(0)}})):
        assert _projects(step(df)) - base == 3, step.name


def test_events_step_analyzes_to_one_projection_per_step(events):
    # error column + apply + switch; the switch stages no route column
    out = _events_step()(events)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert _projects(out) - _projects(events) == 3
    assert "_pipz_route" not in plan


def _round_trips(spark, monkeypatch, fn, reps: int = 3) -> int:
    """py4j round trips of ``fn()``, the minimum over ``reps`` calls.
    Collection is off while counting, so an object freed by an earlier
    call (a py4j detach is a round trip too) lands in no later count."""
    import gc
    import time

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    seen = []
    for _ in range(reps):
        gc.collect()
        # py4j sends the detaches of freed objects from a background
        # worker thread through this same client; let it drain what
        # the collection freed before the count starts
        deadline = time.monotonic() + 30
        while getattr(client, "finalizer_deque", None) and time.monotonic() < deadline:
            time.sleep(0.01)
        gc.disable()
        try:
            calls[0] = 0
            out = fn()
            seen.append(calls[0])
        finally:
            gc.enable()
        del out
    monkeypatch.undo()
    return min(seen)


def test_reapply_round_trips_stay_bounded(spark, events, documents, monkeypatch):
    # composing a Step is driver work paid on every apply (every
    # trigger of a stream); the bounds are the counts measured before
    # the column-only Steps shared one guarded projection
    events_step, cleaning_step = _events_step(), _cleaning_step()
    assert _round_trips(spark, monkeypatch, lambda: events_step.apply(events)) <= 487
    assert _round_trips(spark, monkeypatch, lambda: cleaning_step.apply(documents)) <= 948
