"""Physical-plan regression tests — the scale-safety contract.

These pin the plan *shapes* that make the suite viable at 100 TB:
filters and column pruning reaching the parquet scan, dimension
broadcasts, partial aggregation, and heap-based top-k. A regression
here (for example a lost pushdown after a refactor) is invisible to
value-correctness tests but catastrophic at scale.
"""

import re

from bend_archiver_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


class TestPushdownAndPruning:
    def test_q6_filters_reach_scan(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q6_revenue")
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
        assert "GreaterThanOrEqual(l_shipda" in plan
        # column pruning: only the 4 needed columns are read
        assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in plan

    def test_scan_predicate_range_pushdown(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "scan_predicate")
        assert "GreaterThanOrEqual(l_orderkey,100)" in plan

    def test_q1_partial_aggregation(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q1")
        assert "partial_sum" in plan  # map-side combine before shuffle


class TestJoinStrategies:
    def test_q3_broadcasts_dimension(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q3_topk")
        assert "BroadcastHashJoin" in plan
        # customer scan carries the segment filter pushed down
        assert "EqualTo(c_mktsegment,BUILDING)" in plan

    def test_q5_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q5_region_revenue")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 4  # all dims broadcast

    def test_semi_join_planned(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "join_semi_customers_with_orders")
        assert "LeftSemi" in plan


class TestTopK:
    def test_global_topk_avoids_full_sort(self, spark, sf_dir):
        # TakeOrderedAndProject = per-partition heap + driver merge
        plan = plan_of(spark, sf_dir, "sort_limit_topk_orders")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan


class TestNewOperatorPlans:
    def test_skew_probe_uses_topk_and_broadcast_total(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "diagnose_key_skew")
        assert "TakeOrderedAndProject" in plan  # no global sort
        assert "BroadcastExchange" in plan  # scalar total broadcasts

    def test_range_window_single_exchange(self, spark, sf_dir):
        """One hash exchange on the window partition key; the RANGE
        frame plans natively (no self-join fallback)."""
        plan = plan_of(spark, sf_dir, "window_range_sliding_revenue")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "RangeFrame" in plan
        assert "Join" not in plan

    def test_simhash_pairs_banded_no_cartesian(self, spark, sf_dir):
        """The registered simhash query must stay on the pigeonhole
        band join — a crossJoin self-join is O(n^2) at scale."""
        plan = plan_of(spark, sf_dir, "dedup_simhash")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_minhash_signature_barrier_holds(self, spark, sf_dir):
        """The (doc_id, hvs) shingle-hash projection must stay behind a
        persist barrier. Without it CollapseProject inlines the md5
        shingle hashing into every one of the 17 downstream consumers
        (16 permutation minima + size) — measured 3-5x wall-clock at
        sf0.1 (round-2 regression, commit fdfbf25). Pin: the cache scan
        exists — its presence IS the anti-collapse barrier. (Counting
        md5 occurrences in the plan text is not a reliable
        discriminator: simple-mode explain truncates long expressions,
        and a materialized cache prints its child plan, so both shapes
        can show the same count.)"""
        plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
        assert "InMemoryTableScan" in plan

    def test_embedding_cosine_lsh_no_cartesian(self, spark, sf_dir):
        """The registered cosine-dedup query must gate pairs through
        LSH bucket equality, never an all-pairs product. The only
        allowed nested-loop joins are the ONE-ROW sign-matrix
        broadcasts (constant-size build side, not a pair product; one
        per bucket branch of the candidate self-join)."""
        plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 2
        # the pair-candidate join itself must be a hash join on buckets
        assert "hashpartitioning(tbl" in plan or "BroadcastHashJoin" in plan

    def test_contamination_broadcasts_benchmark(self, spark, sf_dir):
        """The benchmark shingle set must broadcast — a shuffle join
        would move the whole corpus's shingles for a tiny build side."""
        plan = plan_of(spark, sf_dir, "text_contamination_check")
        assert "BroadcastHashJoin" in plan

    def test_stage_funnel_single_scan(self, spark, sf_dir):
        """All funnel stages come from ONE pass over documents."""
        plan = plan_of(spark, sf_dir, "pipeline_stage_funnel")
        assert plan.count("FileScan parquet") == 1
        assert "partial" in plan  # map-side combine of the counters

    def test_semantic_keep_one_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "dedup_semantic_keep_one")
        assert "CartesianProduct" not in plan

    def test_q2_windowed_min_no_self_join(self, spark, sf_dir):
        """The correlated-min becomes a partition window over the
        grouped cost relation (one exchange on partkey), never a
        self-join; dims broadcast; the final order is a top-100 heap."""
        plan = plan_of(spark, sf_dir, "tpch_q2_min_cost_supplier")
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan  # all joins broadcast

    def test_q20_nested_ins_plan_as_broadcast_semi(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q20_excess_suppliers")
        assert "CartesianProduct" not in plan
        assert "LeftSemi" in plan
        assert "BroadcastHashJoin" in plan

    def test_kmeans_codebook_broadcasts(self, spark, sf_dir):
        """The centroid component table must broadcast — shuffling N*dim
        component rows against an 8-vector codebook is backwards."""
        plan = plan_of(spark, sf_dir, "embedding_kmeans_assign")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_topk_ngrams_heap_topk(self, spark, sf_dir):
        """The vocabulary top-20 is a heap top-k over the aggregated
        counts with map-side combine, not a global sort."""
        plan = plan_of(spark, sf_dir, "text_topk_ngrams")
        assert "TakeOrderedAndProject" in plan
        assert "partial_count" in plan

    def test_int8_quantize_single_scan_no_join(self, spark, sf_dir):
        """min/max come from the array itself: one scan, no join."""
        plan = plan_of(spark, sf_dir, "embedding_int8_quantize")
        assert plan.count("FileScan parquet") == 1
        assert "Join" not in plan

    def test_ivf_fixed_codebook_no_cartesian(self, spark, sf_dir):
        """IVF candidates come from probed-cell equality joins; the
        only nested-loop join is the tiny broadcast query side of the
        rerank (same allowance as the ANN brute-force baseline)."""
        plan = plan_of(spark, sf_dir, "ann_ivf_fixed_codebook")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # codebook + cell joins

    def test_chunking_is_map_only(self, spark, sf_dir):
        """Sliding-window chunking must plan with no exchange at all
        (generator + projection only) — at 100 TB it's a pure map
        stage. The only allowed exchange is the input-fanout
        round-robin repartition of the single-file test corpus."""
        plan = plan_of(spark, sf_dir, "pipeline_chunk_documents")
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "Join" not in plan

    def test_fuzzy_match_blocked_not_cartesian(self, spark, sf_dir):
        """Fuzzy matching must join on the blocking key, never an
        all-pairs product."""
        plan = plan_of(spark, sf_dir, "text_fuzzy_match_parts")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_quality_constraints_fk_broadcast(self, spark, sf_dir):
        """The referential-integrity probe is a broadcast anti-join;
        row-local rules all ride one combinable aggregate."""
        plan = plan_of(spark, sf_dir, "verify_quality_constraints")
        assert "LeftAnti, BuildRight" in plan
        assert "partial_count" in plan

    def test_latest_snapshot_single_exchange(self, spark, sf_dir):
        """row_number and the per-key count share one hash exchange."""
        plan = plan_of(spark, sf_dir, "events_latest_snapshot")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_per_source_topk_is_two_phase_salted(self, spark, sf_dir):
        """Both per-source top-k queries must keep the two-phase salted
        shape: a partial rank within (source, __salt) — its exchange
        carries the salt column — bounds any one task's sort to
        ~1/salt_buckets of the hottest source, and the exact final
        window runs over at most k*salt_buckets rows per source. A
        regression to the single-window form sorts a dominating crawl
        source in one task at 100 TB."""
        for name in ("pipeline_per_source_cap", "pipeline_reservoir_per_source"):
            plan = plan_of(spark, sf_dir, name)
            exchanges = [
                ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln
            ]
            assert len(exchanges) == 2, (name, exchanges)
            # top-down print: final (source-only) exchange first, the
            # salted pre-rank exchange below it
            assert "__salt" not in exchanges[0], name
            assert "__salt" in exchanges[1], name
            # rank-limit pushdown holds on both phases
            assert plan.count("WindowGroupLimit") >= 2, name

    def test_multiset_ops_plan_as_signed_counts(self, spark, sf_dir):
        """exceptAll/intersectAll compile to aggregates of signed
        counts, not a join per duplicate row."""
        plan = plan_of(spark, sf_dir, "setops_all_lineitem")
        assert "SortMergeJoin" not in plan
        assert "vcol" in plan  # the signed-count rewrite's column


class TestQualityAndPQPlans:
    def test_pq_paths_no_cartesian(self, spark, sf_dir):
        """PQ encode/search must stay on broadcast codebook/LUT hash
        joins — an all-pairs product would defeat the entire point of
        the code representation."""
        for name in ("embedding_pq_encode", "ann_pq_adc_topk"):
            plan = plan_of(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "BroadcastHashJoin" in plan, name

    def test_quality_classifier_single_shuffle(self, spark, sf_dir):
        """Hashed-ngram scorer: one combinable groupBy, stays JVM-side
        (a Python-UDF tokenizer here would be the classic 100x hot-path
        mistake)."""
        plan = plan_of(spark, sf_dir, "text_quality_classifier")
        assert "partial_count" in plan or "partial_sum" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_random_projection_map_only(self, spark, sf_dir):
        """JL projection is a pure scan: the sign matrix rides a
        one-row broadcast, projections and norms are HOF expressions —
        the only join is the broadcast cross join, zero exchanges."""
        plan = plan_of(spark, sf_dir, "embedding_random_projection")
        assert "Exchange hashpartitioning" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row signs side

    def test_bpe_tokens_map_only(self, spark, sf_dir):
        """Token counting is a pure projection — zero exchanges; at
        100 TB this is the difference between a scan and a shuffle of
        the whole corpus."""
        plan = plan_of(spark, sf_dir, "text_bpe_regex_tokens")
        assert "Exchange" not in plan

    def test_dup_ngram_no_pairs(self, spark, sf_dir):
        """Duplicated-ngram density is O(tokens): gram-hash equi-joins
        only, never a document-pair product."""
        plan = plan_of(spark, sf_dir, "text_duplicated_ngram_fraction")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_scd2_single_exchange(self, spark, sf_dir):
        """SCD2 history = one window on user_id; a second exchange
        would mean the sort/window key diverged from the partition
        key."""
        plan = plan_of(spark, sf_dir, "events_scd2_history")
        assert plan.count("Exchange") == 1

    def test_interval_join_is_equi_join_with_range_filter(
        self, spark, sf_dir
    ):
        """The stream-twin interval join must plan as one equi-join on
        user_id (range bound as post-condition) — a nested-loop over
        the time condition would be quadratic per key group."""
        plan = plan_of(spark, sf_dir, "events_interval_join_batch")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange") <= 2

    def test_variant_and_resize_map_only(self, spark, sf_dir):
        """Variant extraction and resize planning are pure projections
        — zero exchanges, zero Python."""
        for name in ("variant_extract_events", "multimodal_resize_plan"):
            plan = plan_of(spark, sf_dir, name)
            assert "Exchange" not in plan, name
            assert "EvalPython" not in plan, name

    def test_transition_matrix_two_exchanges(self, spark, sf_dir):
        """Window on user_id + rollup on the (from, to) pair: exactly
        two exchanges, with the rollup combining map-side."""
        plan = plan_of(spark, sf_dir, "events_transition_matrix")
        assert plan.count("Exchange") == 2
        assert "partial_count" in plan


class TestRetrievalPlans:
    def test_bm25_inverted_index_shape(self, spark, sf_dir):
        """Query terms broadcast (postings-only tf agg), corpus stats
        ride a one-row broadcast, the top-k is a heap — no cartesian
        pair product anywhere."""
        plan = plan_of(spark, sf_dir, "text_bm25_search")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # query-term postings probe
        # only the one-row corpus-stats broadcast may nested-loop
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        assert "TakeOrderedAndProject" in plan

    def test_bloom_probe_side_never_shuffles(self, spark, sf_dir):
        """The probe stream must stay map-side: bitmap arrives as a
        one-row broadcast array, the exact-verdict join broadcasts the
        reference texts."""
        plan = plan_of(spark, sf_dir, "dedup_bloom_prefilter")
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1  # bitmap row
        assert "BroadcastHashJoin" in plan  # exact-dup verdict probe

    def test_surprisal_vocabulary_broadcasts(self, spark, sf_dir):
        """The rarity table (vocabulary-sized) broadcasts against the
        token stream; all aggregations combine map-side."""
        plan = plan_of(spark, sf_dir, "text_surprisal_bits")
        assert "BroadcastHashJoin" in plan
        assert "partial_count" in plan


class TestNoPythonInHotPath:
    # the only queries allowed to evaluate Python: the Arrow-batched
    # multimodal decode/feature pipelines and the deliberate
    # UDxF-surface demonstrations (functions/udxf.py — slow path by
    # design)
    PYTHON_ALLOWED = {
        "multimodal_decode_stub",
        "multimodal_feature_stub",
        "udtf_token_stats",
        "udaf_weighted_discount",
        "grouped_map_minmax_norm",
    }

    def test_only_declared_queries_use_python(self, spark, sf_dir):
        """Every other query must stay fully JVM-side: no row-at-a-time
        or Arrow Python evaluation nodes anywhere in the plan."""
        offenders = []
        for name in REGISTRY:
            if name in self.PYTHON_ALLOWED:
                continue
            plan = plan_of(spark, sf_dir, name)
            if any(
                marker in plan
                for marker in ("EvalPython", "InPandas", "PythonUDTF")
            ):
                offenders.append(name)
        assert offenders == []

    def test_decode_stub_is_arrow_batched(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "multimodal_decode_stub")
        assert "MapInPandas" in plan  # Arrow batches, not per-row UDF
        assert "BatchEvalPython" not in plan


class TestRound6PrefixPlans:
    """Round-6 queries whose global ranks must come from the
    two-phase prefix machinery, never a SinglePartition sort of
    corpus-proportional data (vocabulary / document ranks)."""

    def test_zipf_rank_is_distributed(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "text_zipf_fit")
        assert "_pid" in plan
        assert "CartesianProduct" not in plan

    def test_systematic_sample_rank_is_distributed(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "pipeline_systematic_sample")
        assert "_pid" in plan
        assert "row_number" not in plan.lower()

    def test_interleave_uses_global_prefix_not_source_window(
        self, spark, sf_dir
    ):
        """Per-source rank = global prefix rank - broadcast offsets;
        the only window allowed is over the |sources|-row count
        table, so no hashpartitioning exchange on source feeds a
        Window (which would sort each corpus-proportional source in
        one task)."""
        plan = plan_of(spark, sf_dir, "pipeline_interleave_sources")
        assert "_pid" in plan
        assert "BroadcastHashJoin" in plan  # offsets + source-index join

    def test_block_fingerprint_single_combinable_pass(self, spark, sf_dir):
        """One map-combined groupBy: the partial aggregate is present
        and nothing that would force a second data movement (join,
        window, global sort) appears. Asserting operator absences is
        robust across Spark/AQE plan-format changes, where an exact
        Exchange string count is not."""
        plan = plan_of(spark, sf_dir, "verify_block_fingerprints")
        assert "partial" in plan
        assert "Join" not in plan
        assert "Window" not in plan
        assert "Exchange rangepartitioning" not in plan  # no global sort

    def test_gini_ranks_distributed_not_per_segment_window(
        self, spark, sf_dir
    ):
        """Within-segment ranks = global prefix rank minus broadcast
        offsets; segments are corpus-proportional so a per-segment
        row_number window (one task per segment) is banned."""
        plan = plan_of(spark, sf_dir, "agg_gini_revenue")
        assert "_pid" in plan
        assert "CartesianProduct" not in plan

    def test_shard_pack_prefix_sum(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "multimodal_shard_pack")
        assert "_pid" in plan
        assert "CartesianProduct" not in plan

    def test_vocab_overlap_bounded_pair_groups(self, spark, sf_dir):
        """Token-keyed self-join then |sources|^2 pair rollup; vocab
        sizes broadcast — no nested loop over two corpus sides."""
        plan = plan_of(spark, sf_dir, "text_source_vocab_overlap")
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan  # shared tok barrier
        assert "BroadcastHashJoin" in plan


class TestAnnRecallCurvePlan:
    def test_sweep_is_one_join_plus_conditional_sums(self, spark, sf_dir):
        """The 4-config sweep must re-use ONE (tbl, bucket) collision
        join and one per-pair min-table aggregate — never a per-config
        re-hash or re-join of the corpus. Broadcast sides: query
        buckets, the 4-row config table, and the brute-force query
        vectors; no unbounded cartesian."""
        plan = plan_of(spark, sf_dir, "ann_recall_curve")
        assert "CartesianProduct" not in plan
        # exactly one equi-join on the (tbl, bucket) collision keys
        assert plan.count("Join") >= 2  # collision + truth-left-join
        assert "partial_min" in plan  # min-table aggregate combines


class TestRegistryOutputShapes:
    def test_no_complex_typed_output_columns(self, spark, sf_dir):
        """The driver's canonicalizer sorts the result frame by every
        column with pandas; list/dict/struct cells are unhashable and
        turn a CORRECT answer into an err row (r05's only red:
        embedding_standardize_dims returned array<double> zvec).
        Registered outputs must therefore be scalar columns only —
        array-shaped companions live as unregistered helpers (e.g.
        ``analytics5.standardized_vectors``) built on the registered
        exploded twin."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        offenders = {}
        for name, spec in REGISTRY.items():
            schema = spec.spark(spark, sf_dir).schema
            bad = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if bad:
                offenders[name] = bad
        assert offenders == {}


class TestQuality2Plans:
    def test_gopher_rules_map_only(self, spark, sf_dir):
        """Rule filter is a single projection over the scan — zero
        exchanges, zero generators; at 100 TB it costs one wave of
        scan tasks."""
        plan = plan_of(spark, sf_dir, "text_gopher_quality_rules")
        assert "Exchange" not in plan
        assert "Generate" not in plan

    def test_bigram_lm_stream_barrier_and_broadcast_counts(
        self, spark, sf_dir
    ):
        """The (doc_id, c, g) bigram stream sits behind a persist
        barrier (two consumers — the (c, g) type-count reduce and the
        scoring probe; without it the explode+md5 front end re-runs
        for each), count tables join back without a cartesian, and
        the one-row vocab total broadcasts."""
        plan = plan_of(spark, sf_dir, "text_bigram_lm_bits")
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # 1-row vocab side

    def test_dsir_weights_broadcast_probe_never_shuffles(
        self, spark, sf_dir
    ):
        """The 512-row weight table and 1-row totals broadcast; the
        token stream is only ever shuffled by the final per-document
        reduce (plus the fanout repartition on this small corpus) —
        never by the scoring join."""
        plan = plan_of(spark, sf_dir, "pipeline_dsir_importance")
        assert "BroadcastHashJoin" in plan  # weights join
        assert "CartesianProduct" not in plan

    def test_cross_corpus_decontam_broadcasts_bench(self, spark, sf_dir):
        """Candidate generation must touch the corpus with a map-side
        join against the BROADCAST bench band table — shuffling the
        corpus to find contamination defeats the design. The corpus
        signature front end keeps its persist barrier."""
        plan = plan_of(spark, sf_dir, "dedup_cross_corpus_minhash")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan

    def test_singular_direction_fixed_size_iterations(self, spark, sf_dir):
        """The Gram matrix reduces map-side into 4096 groups; both
        power-iteration steps operate on fixed-size tables with the
        64-row vector broadcast — no cartesian, no corpus-sized
        shuffle beyond the partial-agg exchange."""
        plan = plan_of(spark, sf_dir, "embedding_top_singular_direction")
        assert "partial_sum" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # 64-row v1 side

    def test_bpe_merge_heap_topk(self, spark, sf_dir):
        """Top-50 pair frontier must come from a per-partition heap +
        driver merge, never a global sort of the pair histogram."""
        plan = plan_of(spark, sf_dir, "text_bpe_merge_candidates")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_kmv_sketch_two_phase_minima(self, spark, sf_dir):
        """The per-language k-minima must go through the two-phase
        salted window (bounded sorts), and the distinct on
        (lang, hash) must partial-aggregate map-side."""
        plan = plan_of(spark, sf_dir, "agg_kmv_distinct_sketch")
        assert "CartesianProduct" not in plan
        # two window passes = the salted phase-1 + exact phase-2
        assert plan.count("Window") >= 2

    def test_curate_v2_composes_lazily(self, spark, sf_dir):
        """The four chained stages must form ONE plan: per-document
        score relations reduce before their doc_id joins (no token
        stream crosses a join), the bigram stream's persist barrier
        survives composition, and nothing degenerates to a cartesian."""
        plan = plan_of(spark, sf_dir, "pipeline_curate_v2")
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan

    def test_diversified_topk_broadcasts_queries(self, spark, sf_dir):
        """The query side must broadcast (each corpus row computes one
        dot) and the diversity windows must not degrade to a global
        sort or cartesian pair product beyond the broadcast."""
        plan = plan_of(spark, sf_dir, "ann_topk_diversified")
        assert "BroadcastNestedLoopJoin" in plan  # broadcast query side
        assert "CartesianProduct" not in plan
        assert plan.count("Window") >= 2

    def test_incremental_topk_merge_is_bounded(self, spark, sf_dir):
        """Both part top-ks broadcast their query side; the merge
        window sees at most 2k rows per query — no global re-sort of
        scores, no cartesian beyond the broadcast fronts."""
        plan = plan_of(spark, sf_dir, "ann_topk_incremental")
        assert "CartesianProduct" not in plan
        assert "Union" in plan

    def test_bpe_training_rounds_are_vocab_bounded(self, spark, sf_dir):
        """Training must run on the word-frequency table: exactly one
        corpus scan feeds the word counts; each round's argmax is a
        1-row broadcast; merge application is a per-row fold, never a
        join back to the corpus."""
        plan = plan_of(spark, sf_dir, "text_bpe_train_merges")
        assert "CartesianProduct" not in plan
        # one corpus scan per branch of the 3-round union — the corpus
        # is re-read per merge row but never joined or shuffled beyond
        # the word-count groupBy
        assert "TakeOrderedAndProject" in plan  # argmax via limit-sort


class TestDedup2Plans:
    def test_containment_is_posting_list_equi_join(self, spark, sf_dir):
        """Containment pairs come from the same tok equi-join as
        Jaccard verification — never a cartesian over documents."""
        plan = plan_of(spark, sf_dir, "dedup_containment_pairs")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_cdc_chunker_map_side_behind_barrier(self, spark, sf_dir):
        """The CDC boundary trick (markers injected inside the token
        array, chunks from one per-row regex split) needs no
        posexplode+window and no join for boundary detection — and the
        chunk stream sits behind a persist barrier so its two
        consumers (cross-doc counts + per-doc probe) share ONE run of
        the explode+md5 chunker. Every Generate in the rendered plan
        must be inside the cached relation (one per InMemoryTableScan
        printout), never a fresh uncached explode."""
        plan = plan_of(spark, sf_dir, "pipeline_cdc_chunks")
        assert "InMemoryTableScan" in plan
        assert plan.count("Generate") <= plan.count("InMemoryTableScan")
        assert "CartesianProduct" not in plan
        assert "Window" not in plan  # no per-doc running-sum fallback


class TestGraphRankAndSamplingPlans:
    def test_pagerank_iterations_are_node_bounded(self, spark, sf_dir):
        """Edges, nodes, and the 1-row node count sit behind persist
        barriers, so the 3 rank iterations join cached node-bounded
        tables instead of re-scanning events per iteration; no
        cartesian anywhere (the node-count join is a deliberate 1-row
        broadcast)."""
        plan = plan_of(spark, sf_dir, "graph_pagerank_event_types")
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan

    def test_priority_sample_is_heap_topk_plus_broadcast_tau(
        self, spark, sf_dir
    ):
        """The top-(k+1) comes from TakeOrderedAndProject (per-
        partition heap + driver merge, never a global sort) and the
        threshold tau joins back as a 1-row broadcast."""
        plan = plan_of(spark, sf_dir, "pipeline_priority_sample")
        assert "TakeOrderedAndProject" in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row tau
        assert "Exchange hashpartitioning" not in plan  # no data shuffle


class TestArchiver2AndEvalPlans:
    def test_snapshot_diff_copartitioned_full_outer(self, spark, sf_dir):
        """Both snapshots hash on the entity key for their windows and
        the diff reuses that layout in a key-equi full outer join —
        corpus-sized sides, so a (broadcast) nested loop or cartesian
        here would be wrong at scale."""
        plan = plan_of(spark, sf_dir, "archive_snapshot_diff")
        assert "FullOuter" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_lsh_eval_persists_pair_tables(self, spark, sf_dir):
        """Candidates and truth each feed two consumers (hit join +
        count); both must sit behind persist barriers, and the only
        nested-loop joins are the two 1-row count crossJoins."""
        plan = plan_of(spark, sf_dir, "dedup_lsh_eval")
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 2


class TestTokenizerAndSketchMergePlans:
    def test_bpe_encode_vocab_join_no_cartesian(self, spark, sf_dir):
        """Encoding must be vocabulary-sized: merges apply to the
        distinct-word table (1-row argmax broadcasts only), and the
        corpus pays an equi-join on the word — never a cartesian, and
        every argmax is a heap top-1."""
        plan = plan_of(spark, sf_dir, "text_bpe_encode_corpus")
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)

    def test_kmv_merge_is_bounded_topk(self, spark, sf_dir):
        """The sketch merge sorts only the union of per-source minima
        (<= k * n_sources rows) through one heap top-k; the final
        assembly is two 1-row crossJoins."""
        plan = plan_of(spark, sf_dir, "agg_kmv_merge_sources")
        assert plan.count("TakeOrderedAndProject") == 1
        assert plan.count("BroadcastNestedLoopJoin") == 2
        assert "CartesianProduct" not in plan


class TestAnalytics2Plans:
    def test_exact_median_uses_two_phase_prefix_rank(self, spark, sf_dir):
        """The global rank must come from the distributed prefix sum:
        per-partition windows keyed on the physical partition id with
        broadcast offsets — the only SinglePartition window allowed is
        the per-partition-TOTALS scan (one row per partition). The
        range exchange itself is hidden behind prefix_sum's
        localCheckpoint, so the _pid machinery is the pin."""
        plan = plan_of(spark, sf_dir, "agg_exact_median_distributed")
        assert "_pid" in plan
        assert "BroadcastHashJoin" in plan  # offsets join back
        assert "CartesianProduct" not in plan

    def test_abc_classification_uses_prefix_sum(self, spark, sf_dir):
        """The Pareto cumulative walk runs at part-catalog cardinality
        (linear in corpus size), so it must use the _pid two-phase
        prefix machinery with the grand total as a broadcast scalar —
        the only SinglePartition window allowed is the
        per-partition-TOTALS offsets scan (one row per partition)."""
        plan = plan_of(spark, sf_dir, "orders_abc_classification")
        assert "_pid" in plan
        assert "BroadcastHashJoin" in plan  # offsets join back
        assert "BroadcastNestedLoopJoin" in plan  # 1-row grand total
        assert "CartesianProduct" not in plan

    def test_rfm_scores_via_distributed_ntile(self, spark, sf_dir):
        """All three quartile scores must come from ntile_distributed
        (prefix-sum rank + int64 bucket formula), never a bare
        ntile OVER (ORDER BY) window: the plan carries the _pid
        machinery and zero window ntile calls."""
        plan = plan_of(spark, sf_dir, "orders_rfm_segmentation")
        assert "_pid" in plan
        assert "ntile" not in plan
        assert "CartesianProduct" not in plan

    def test_cohort_retention_combinable_aggs(self, spark, sf_dir):
        """Cohort min and the (user, week) distinct both combine
        map-side; no cartesian anywhere."""
        plan = plan_of(spark, sf_dir, "events_cohort_retention")
        assert "partial_min" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestMMRPlans:
    def test_mmr_rerank_is_pool_bounded(self, spark, sf_dir):
        """The corpus is touched only by the relevance top-k; the
        pairwise-similarity product and every greedy round run over
        persisted pool-bounded (<= 20 row) tables. No CartesianProduct
        — the only nested-loop joins are broadcast products with a
        bounded side (query vector, pool, 1-row picks)."""
        plan = plan_of(spark, sf_dir, "ann_topk_mmr")
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan


class TestBasketAndWeightedMedianPlans:
    def test_weighted_median_two_phase_prefix(self, spark, sf_dir):
        """Weighted rank via the _pid two-phase prefix machinery plus
        a heap top-1 boundary pick — never a corpus-sized
        single-partition running sum."""
        plan = plan_of(spark, sf_dir, "agg_exact_weighted_median")
        assert "_pid" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_basket_pairs_keyed_on_order(self, spark, sf_dir):
        """Pair enumeration must be the order-key self-join (bounded
        by basket size); the part-count sides and the 1-row total
        broadcast into the scoring join."""
        plan = plan_of(spark, sf_dir, "orders_basket_affinity")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 2  # pa + pb sides
        assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row total


class TestRound5FourthPhasePlans:
    def test_triangle_wedges_behind_edge_barrier(self, spark, sf_dir):
        """Triangle enumeration must run over the PERSISTED
        degree-ORIENTED edge list (otherwise every join arm re-runs
        the basket self-join), and every join is a key equi-join:
        wedge closure, never an all-pairs product. The degree table is
        no longer FORCE-broadcast (|V| rows can exceed executor memory
        at graph scale) — but because it is persisted, Catalyst sees
        its true size and still elects a broadcast join here, which
        this pin confirms at test scale."""
        plan = plan_of(spark, sf_dir, "graph_triangle_count")
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_skyline_is_broadcast_runmax_not_n2(self, spark, sf_dir):
        """The skyline must be the running-max-over-distinct-prices
        formulation broadcast back onto the part scan — no O(n^2)
        dominance self-join (no CartesianProduct / nested-loop over
        two corpus sides)."""
        plan = plan_of(spark, sf_dir, "pareto_frontier_parts")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert "Window" in plan

    def test_histogram_quantile_prefix_rank_and_broadcast_targets(
        self, spark, sf_dir
    ):
        """The exact-rank audit must use the two-phase prefix-sum
        machinery (_pid), and the 3-row target table must broadcast
        into both the bin walk and the rank probe — the corpus is
        scanned, never nested-loop-joined against itself."""
        plan = plan_of(spark, sf_dir, "agg_histogram_quantile")
        assert "_pid" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_phrase_search_posting_equi_join(self, spark, sf_dir):
        """Phrase adjacency is a (doc_id, pos) equi-join between
        term-filtered posting lists — the term filters must sit below
        the join (selectivity first), and no cartesian anywhere."""
        plan = plan_of(spark, sf_dir, "text_phrase_search")
        assert "CartesianProduct" not in plan
        # both join keys present in some equi-join
        assert "doc_id" in plan and "pos" in plan

    def test_span_coverage_gram_join_no_pairs(self, spark, sf_dir):
        """Exact-substring coverage must be the gram-hash join (cost
        O(tokens)), never a document-pair product; the distinct-doc
        gram count is a partial (map-combinable) aggregate."""
        plan = plan_of(spark, sf_dir, "dedup_span_coverage")
        assert "CartesianProduct" not in plan
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_merge_upsert_copartitioned_full_outer(self, spark, sf_dir):
        """SCD1 merge is one key-equi FULL OUTER join between the two
        snapshot windows — co-partitioned on user_id, no broadcast
        (both sides corpus-sized) and no cartesian."""
        plan = plan_of(spark, sf_dir, "archive_merge_upsert")
        assert "FullOuter" in plan
        assert "CartesianProduct" not in plan


class TestRound5FifthPhasePlans:
    def test_lpa_rounds_node_bounded_behind_barriers(self, spark, sf_dir):
        """Label propagation must run its rounds over PERSISTED
        node-bounded tables (adjacency + per-round labels) — lineitem
        is touched only by the edge build — and every join is a key
        equi-join."""
        plan = plan_of(spark, sf_dir, "graph_label_propagation")
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan

    def test_histogram_merge_single_corpus_pass(self, spark, sf_dir):
        """The merge story stands on ONE corpus pass: the per-source
        sketch table is persisted and both branches (per-source walk,
        global rollup) read the cache. (FileScan COUNTS in the plan
        string are not a valid discriminator here: each
        InMemoryTableScan reprints its cached child plan — same
        caveat as the minhash barrier pin.)"""
        plan = plan_of(spark, sf_dir, "agg_histogram_merge_sources")
        assert "InMemoryTableScan" in plan  # the persisted sketch table
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan

    def test_seasonal_decompose_single_pass_broadcast_components(
        self, spark, sf_dir
    ):
        """One combinable groupBy reduces events to the daily table;
        the dow/overall component tables broadcast back; windows are
        per-type partitioned (no global sort)."""
        plan = plan_of(spark, sf_dir, "timeseries_seasonal_decompose")
        assert "InMemoryTableScan" in plan  # the persisted daily table
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_regression_is_one_combinable_scan(self, spark, sf_dir):
        """Five moment sums in one map-combinable aggregate; no join
        anywhere."""
        plan = plan_of(spark, sf_dir, "agg_linear_regression_per_type")
        assert plan.count("FileScan parquet") == 1
        assert "partial_sum" in plan
        assert "Join" not in plan


class TestRound5SixthPhasePlans:
    def test_bfs_frontier_joins_cached_node_bounded(self, spark, sf_dir):
        """BFS expansions must run against the persisted adjacency
        (corpus touched once by the edge build); frontier joins are
        broadcast equi-joins, the visited check a key anti-join."""
        plan = plan_of(spark, sf_dir, "graph_bfs_hops")
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan
        assert "LeftAnti" in plan

    def test_attribution_single_user_exchange(self, spark, sf_dir):
        """One hash exchange on user_id feeds the running-last window;
        the channel rollup is combinable after the purchase filter."""
        plan = plan_of(spark, sf_dir, "events_attribution_last_touch")
        assert plan.count("Exchange hashpartitioning(user_id") == 1
        assert "CartesianProduct" not in plan

    def test_langid_confusion_cell_bounded_join(self, spark, sf_dir):
        """The share join runs on the |labels| x |guesses| cell table
        (broadcast), after one map-only pass + combinable groupBy."""
        plan = plan_of(spark, sf_dir, "text_langid_confusion")
        assert "BroadcastHashJoin" in plan
        assert "partial_count" in plan

    def test_standardize_broadcast_dim_stats(self, spark, sf_dir):
        """The |dims|-row stats table must broadcast onto the element
        stream — shuffling corpus elements against 64 rows is
        backwards. Since the round-6 reshape the registered query
        emits the exploded scalar frame directly (no collect_list
        regroup — that lives in the unregistered standardized_vectors
        helper), so the element stream is never shuffled at all."""
        plan = plan_of(spark, sf_dir, "embedding_standardize_dims")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "ObjectHashAggregate" not in plan  # regroup is gone


class TestVerificationAndDriftPlans:
    def test_referential_integrity_shared_child_scans(self, spark, sf_dir):
        """Dimension parents broadcast into the orphan joins; no
        cartesian except the 1-row summary cross-products; lineitem's
        three FK audits share one chained-join pass (left joins on
        DISTINCT parent keys — no row multiplication)."""
        plan = plan_of(spark, sf_dir, "verify_referential_integrity")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 5
    def test_key_uniqueness_no_joins(self, spark, sf_dir):
        """Pure per-table aggregation — a join anywhere is wrong."""
        plan = plan_of(spark, sf_dir, "verify_key_uniqueness")
        assert "Join" not in plan
        assert "partial_count" in plan

    def test_ks_drift_value_bounded_window(self, spark, sf_dir):
        """The cumulative window runs over the DISTINCT-length table
        after a combinable groupBy; the 1-row totals broadcast."""
        plan = plan_of(spark, sf_dir, "profile_ks_drift")
        assert "partial_sum" in plan
        assert "BroadcastNestedLoopJoin" in plan  # 1-row totals
        assert "CartesianProduct" not in plan

    def test_chi2_cells_behind_barrier(self, spark, sf_dir):
        """The observed-cell table is persisted (feeds row totals,
        column totals, grand total, dof and the contribution join);
        marginals broadcast back onto the cells."""
        plan = plan_of(spark, sf_dir, "profile_chi2_independence")
        assert "InMemoryTableScan" in plan
        assert "BroadcastHashJoin" in plan


class TestLinkPredictionAndABCPlans:
    def test_common_neighbors_wedge_join_anti(self, spark, sf_dir):
        """Candidates come from the wedge equi-join behind the
        persisted edge barrier; the existing-edge filter is an
        anti-join; never an all-pairs product over the catalog."""
        plan = plan_of(spark, sf_dir, "graph_common_neighbors")
        assert "InMemoryTableScan" in plan
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_abc_single_combinable_reduce(self, spark, sf_dir):
        """One map-combinable revenue groupBy feeds the cumulative
        walk; since round 6 the walk is the distributed prefix sum, so
        the only joins are its broadcast offsets join and the 1-row
        grand-total broadcast (see also
        test_abc_classification_uses_prefix_sum)."""
        plan = plan_of(spark, sf_dir, "orders_abc_classification")
        assert "partial_sum" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


class TestUnforcedBroadcasts:
    """Round 7: the eight queries that used to force-broadcast a
    corpus-proportional side (customer/supplier in seven TPC-H shapes,
    per-doc lengths in BM25) now carry NO hint there. At test scale
    stats must still elect broadcast (no perf cliff); at 100x the
    same plan degrades gracefully to a shuffle join instead of dying
    on the broadcast size limit. Source-level guard plus plan pins."""

    ELECTED = [
        "tpch_q3_topk",
        "tpch_q5_region_revenue",
        "tpch_q7_nation_trade",
        "tpch_q8_market_share",
        "tpch_q10_returned_topk",
        "tpch_q18_large_orders",
        "pivot_status_by_segment",
    ]

    def test_broadcast_still_elected_from_stats(self, spark, sf_dir):
        """Without the hint, parquet size stats must keep electing
        BroadcastHashJoin for the customer side at test scale."""
        missing = []
        for name in self.ELECTED:
            if "BroadcastHashJoin" not in plan_of(spark, sf_dir, name):
                missing.append(name)
        assert missing == []

    def test_no_forced_corpus_proportional_broadcast(self):
        """No query module may wrap a scale-linear table (customer,
        supplier, orders, lineitem, per-doc stats) in F.broadcast.
        Bounded tables (nation/region, codebooks, one-row stats,
        vocabulary/k-bounded intermediates) remain fair game."""
        import pathlib
        import re

        import bend_archiver_spark

        qdir = pathlib.Path(bend_archiver_spark.__file__).parent / "queries"
        banned = re.compile(
            r"F\.broadcast\(\s*(cust|supp|orders|li|lineitem|dl|part"
            r"|esupp|widget_parts|excess|cust_keys|lab|emb|docs|base"
            r"|dq)\s*[,)]"
        )
        offenders = []
        for path in sorted(qdir.glob("*.py")):
            for i, line in enumerate(path.read_text().splitlines(), 1):
                if banned.search(line):
                    offenders.append(f"{path.name}:{i}: {line.strip()}")
        assert offenders == []

    def test_bm25_candidate_reduced_lengths(self, spark, sf_dir):
        """BM25's per-doc length table must be semi-join-reduced to
        candidates (LeftSemi in plan) and never force-broadcast."""
        plan = plan_of(spark, sf_dir, "text_bm25_search")
        assert "LeftSemi" in plan


class TestStructuralBroadcastGuard:
    """Round 8: the suite-wide STRUCTURAL complement to the name-regex
    ban above. The regex guards source text, so a corpus table aliased
    to an unlisted name slips it; this walks the OPTIMIZED LOGICAL
    PLAN of every registered query instead. A broadcast HINT survives
    optimization as the Join node's JoinHint, which is exactly the
    forced-vs-elected distinction the 100 TB contract cares about:
    stats-ELECTED broadcasts (no hint) degrade gracefully to shuffle
    joins at scale, while a FORCED hint dies on the 8 GB broadcast
    limit. Rule: every hinted-broadcast join side must bottom out in a
    bounded relation — a fixed dimension (nation/region), a local /
    one-row relation, an Aggregate, or a Limit — before reaching a
    corpus-proportional FileScan.

    Known residual (covered by the regex ban + per-query plan pins,
    not this walk): an Aggregate GROUPED BY a corpus-cardinality key
    (for example per-doc stats) is corpus-sized but counts as bounding
    here, because grouping-key cardinality is not decidable from plan
    structure alone. Defense stays layered.

    First run of this walk found one REAL forced corpus broadcast the
    name regex had missed for seven rounds (agg_gini_revenue's full
    customer table, aliased `c`) — fixed in round 8."""

    # Queries whose hinted side IS corpus-derived but is bounded by a
    # CONSTANT-valued filter. Round 9: each signature now pins the
    # BOUNDING PREDICATE itself (`table[attr < lit]`), extracted from
    # the Filter nodes the walk crosses above the scan — so a future
    # unbounded broadcast of the same table on the same side of the
    # same query produces `table[]` and still fails, instead of hiding
    # behind the probe's table-level allowance. Entries are compared
    # as per-query sorted multisets (not walk-order lists), so a Spark
    # upgrade that reorders join children can't produce a spurious
    # diff.
    #
    # Tightening this found a SECOND real offender (after r08's gini):
    # embedding_label_stats broadcast the full per-vector (vec_id,
    # label) projection — corpus-proportional, signature came back
    # `embeddings[]` with no bounding predicate, contradicting its old
    # "K fixed centroids" justification. Fixed by scan-fusing the
    # label through explode_quantized (zero joins remain).
    ALLOWED_CONSTANT_BOUNDED = {
        # decontamination broadcasts the BENCHMARK side's bands — the
        # benchmark set (doc_id < 10) is fixed while the corpus scales
        "dedup_cross_corpus_minhash": ["right:['documents[doc_id < 10]']"],
        # ANN probe sets: query ids bounded by `vec_id < N_QUERIES`;
        # centroid/codebook sides bounded by `vec_id < K`. Broadcasting
        # the query set against the corpus IS the scale design for
        # similarity search (the query side is small by definition).
        # r13: the probe sides became predicate-pushed scans of the
        # query rows (cosine_topk / bucket builders no longer join a
        # broadcast id-list against a second full corpus projection),
        # so the former `right:` id-list broadcasts disappeared — only
        # the broadcast of the bounded query-vector side remains.
        "ann_topk_bruteforce": [
            "left:['embeddings[vec_id < 10]']",
        ],
        "ann_lsh_bucketed": [
            "left:['embeddings[vec_id < 10]']",
            "left:['embeddings[vec_id < 10]']",
        ],
        # IVF: besides the probe set, the SEED CODEBOOK (init
        # centroids = vectors with vec_id < 16 = _N_CELLS, a K x dim
        # table) is broadcast into each E-step join. These two entries
        # became visible in round 9 when the physical walk learned to
        # cross the AdaptiveSparkPlanExec root below the
        # explode_quantized persist barrier — they were always in the
        # plan, just hidden behind the cache. Two occurrences because
        # the E-step join subtree is shared (assignment + probe
        # routing) and optimized plans are trees, not DAGs.
        # the two seed-codebook broadcasts (vec_id < 16) sit under the
        # r13 persist barrier on the E-step-2 cell ranking (single
        # derivation of the training iteration) and no longer reach
        # this walk — only the rerank query side remains forced
        "ann_ivf_topk": [
            "left:['embeddings[vec_id < 10]']",
        ],
        "ann_topk_diversified": [
            "left:['embeddings[vec_id < 10]']",
        ],
        # incremental: base probe (vec_id < 10) plus the delta window
        # (vec_id < 400 ∧ vec_id >= 390 — ten rows; the lower bound is
        # not part of the signature, the upper alone proves constant
        # cardinality)
        "ann_topk_incremental": [
            "left:['embeddings[vec_id < 10, vec_id < 400]']",
            "left:['embeddings[vec_id < 10]']",
        ],
        "ann_recall_curve": [
            "left:['embeddings[vec_id < 10]']",
            "left:['embeddings[vec_id < 10]']",
        ],
        # same seed-codebook shape as ann_ivf_topk above, but the two
        # codebook broadcasts (vec_id < 16) sit under the r13 persist
        # barrier on the cell ranking (single derivation) and no
        # longer reach this walk — only the rerank query side remains
        # on the forced surface
        "ann_ivf_fixed_codebook": [
            "left:['embeddings[vec_id < 10]']",
        ],
        "embedding_knn_label_accuracy": [
            "left:['embeddings[vec_id < 100]']",
        ],
        # histogram pairs: fixed probe rows against the corpus
        "embedding_distance_histogram": ["left:['embeddings[vec_id < 50]']"],
        # fixed codebooks broadcast into the assignment/encode join —
        # 8 centroids / 4-per-subspace PQ sub-codebook; surfaced by
        # the round-9 AQE hop like the IVF seed codebooks above
        "embedding_kmeans_assign": ["right:['embeddings[vec_id < 8]']"],
        "embedding_pq_encode": ["right:['embeddings[vec_id < 4]']"],
    }

    # scale-linear tables: force-broadcasting any of these is a bug
    CORPUS_TABLES = frozenset(
        {
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        }
    )
    _BOUNDING_LOGICAL = frozenset({"Aggregate", "GlobalLimit", "LocalLimit"})
    _BOUNDED_LEAVES = frozenset(
        {"LocalRelation", "OneRowRelation", "Range", "LogicalRDD"}
    )
    _BOUNDING_PHYSICAL = frozenset(
        {
            "HashAggregateExec",
            "ObjectHashAggregateExec",
            "SortAggregateExec",
            "GlobalLimitExec",
            "LocalLimitExec",
            "CollectLimitExec",
            "TakeOrderedAndProjectExec",
        }
    )

    @classmethod
    def _scan_table(cls, node) -> str | None:
        """Table name for a relation-ish node, from its first root
        path (all registry inputs are single-file parquet tables)."""
        try:
            path = (
                node.relation().location().rootPaths().apply(0).toString()
            )
        except Exception:  # noqa: BLE001 — non-file relation
            return None
        return path.rsplit("/", 1)[-1].removesuffix(".parquet")

    # Constant comparison between a column and an integer literal —
    # the shape of a fixed-cardinality probe bound (vec_id < 8). Expr
    # IDs (#123) and casts vary between Spark versions, so the match
    # targets `name#id OP literal` and is normalized to `name OP lit`.
    _CONST_BOUND_RE = re.compile(r"(\w+)#\d+L?\)?\s*(<=?|=)\s*(\d+)")

    @classmethod
    def _const_bounds(cls, condition) -> tuple[str, ...]:
        """Normalized constant upper-bound comparisons in a Filter
        condition (attr < N / attr <= N / attr = N, integer literal)."""
        text = condition.toString()
        return tuple(
            f"{col} {op} {lit}"
            for col, op, lit in cls._CONST_BOUND_RE.findall(text)
        )

    @classmethod
    def _unbounded_corpus_leaves(cls, node, bounds=()) -> list[str]:
        """Corpus tables reachable from *node* (logical) without
        crossing a bounding operator. Each leaf is reported as
        ``table[pred, ...]`` where the preds are the constant-bound
        filter comparisons crossed on the path — so an allowlist entry
        pins WHICH predicate makes a probe side bounded, and a future
        unhinted-filter broadcast of the same table on the same side
        produces a different (empty-bracket) signature and still
        fails."""
        name = node.getClass().getSimpleName()
        if name in cls._BOUNDING_LOGICAL:
            return []
        if name == "Filter":
            bounds = bounds + cls._const_bounds(node.condition())
        if name.startswith("LogicalRelation"):
            table = cls._scan_table(node)
            if table not in cls.CORPUS_TABLES:
                return []
            return [f"{table}[{', '.join(sorted(set(bounds)))}]"]
        if name == "InMemoryRelation":
            return cls._unbounded_corpus_leaves_physical(
                node.cachedPlan(), bounds
            )
        if name in cls._BOUNDED_LEAVES:
            return []
        out: list[str] = []
        ch = node.children()
        for i in range(ch.size()):
            out.extend(cls._unbounded_corpus_leaves(ch.apply(i), bounds))
        return out

    @classmethod
    def _unbounded_corpus_leaves_physical(cls, node, bounds=()) -> list[str]:
        """Same walk over a PHYSICAL subtree (cached-plan interiors)."""
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            # AQE roots cached plans; its children() is EMPTY (the
            # wrapped plan is a field, not a child), so without this
            # hop the walk returns [] below every persist barrier and
            # a hinted corpus broadcast above a cache would pass
            return cls._unbounded_corpus_leaves_physical(
                node.inputPlan(), bounds
            )
        if name in cls._BOUNDING_PHYSICAL:
            return []
        if name == "FilterExec":
            bounds = bounds + cls._const_bounds(node.condition())
        if name == "FileSourceScanExec":
            table = cls._scan_table(node)
            if table not in cls.CORPUS_TABLES:
                return []
            return [f"{table}[{', '.join(sorted(set(bounds)))}]"]
        if name == "InMemoryTableScanExec":
            return cls._unbounded_corpus_leaves_physical(
                node.relation().cachedPlan(), bounds
            )
        out: list[str] = []
        ch = node.children()
        for i in range(ch.size()):
            out.extend(
                cls._unbounded_corpus_leaves_physical(ch.apply(i), bounds)
            )
        return out

    @classmethod
    def _forced_corpus_broadcasts(cls, plan) -> list[str]:
        """(side, tables-with-bounds) strings for every broadcast-HINTED
        join side in *plan* whose subtree reaches a corpus scan without
        crossing a bounding operator. Covers subqueries at EVERY node
        (``subqueriesAll``), not just the root — ``plan.subqueries()``
        returns only subquery expressions attached to the root node's
        own expressions, so a forced broadcast inside e.g. a
        filter-level scalar subquery would evade a root-only walk."""
        bad: list[str] = []

        def walk(node):
            if node.getClass().getSimpleName() == "Join":
                hint = node.hint()
                for side, opt, sub in (
                    ("left", hint.leftHint(), node.left()),
                    ("right", hint.rightHint(), node.right()),
                ):
                    if not opt.isDefined():
                        continue
                    strategy = opt.get().strategy()
                    if (
                        strategy.isDefined()
                        and "broadcast" in strategy.get().toString().lower()
                    ):
                        tables = cls._unbounded_corpus_leaves(sub)
                        if tables:
                            bad.append(f"{side}:{sorted(set(tables))}")
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(plan)
        # subqueriesAll: every (nested) subquery plan anywhere in the
        # tree — root-level subqueries() misses non-root attachment
        # sites and subqueries-of-subqueries.
        subs = plan.subqueriesAll()
        for i in range(subs.size()):
            walk(subs.apply(i))
        return bad

    def test_detector_catches_synthetic_violation(self, spark, sf_dir):
        """Self-test: a deliberately forced corpus broadcast must trip
        the walk (guards against the detector rotting into a no-op if
        Spark renames plan nodes), and the elected/bounded shapes must
        not."""
        from pyspark.sql import functions as F

        from bend_archiver_spark.tables import load_table

        cust = load_table(spark, sf_dir, "customer")
        orders = load_table(spark, sf_dir, "orders")
        nation = load_table(spark, sf_dir, "nation")

        def offenders(df):
            return self._forced_corpus_broadcasts(
                df._jdf.queryExecution().optimizedPlan()
            )

        forced = orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        assert offenders(forced) == ["right:['customer[]']"]
        elected = orders.join(cust, orders.o_custkey == cust.c_custkey)
        assert offenders(elected) == []
        dim = cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        assert offenders(dim) == []
        agged = orders.join(
            F.broadcast(orders.groupBy("o_orderstatus").count()),
            "o_orderstatus",
        )
        assert offenders(agged) == []
        # a constant-bounded probe carries its bounding predicate in
        # the signature — and the UNBOUNDED broadcast of the same
        # table on the same side does NOT, so an allowlist entry
        # pinned to `customer[c_custkey < 5]` can never excuse a
        # future full-table broadcast of customer on that side
        probe = orders.join(
            F.broadcast(cust.filter(cust.c_custkey < 5)),
            orders.o_custkey == cust.c_custkey,
        )
        assert offenders(probe) == ["right:['customer[c_custkey < 5]']"]
        assert offenders(probe) != offenders(forced)

    def test_detector_sees_subquery_below_root(self, spark, sf_dir):
        """ADVICE r08: plan.subqueries() returns only ROOT-attached
        subquery expressions, so a forced corpus broadcast inside a
        filter-level scalar subquery evaded the old walk. The walk now
        uses subqueriesAll(); this pins a violation INSIDE a non-root
        scalar subquery being caught."""
        from bend_archiver_spark.tables import load_table

        cust = load_table(spark, sf_dir, "customer")
        orders = load_table(spark, sf_dir, "orders")
        # scalar subquery containing a forced corpus broadcast,
        # attached to a FILTER (non-root: the projection sits above it)
        cust.createOrReplaceTempView("_sq_cust")
        orders.createOrReplaceTempView("_sq_orders")
        df = spark.sql(
            """
            SELECT o_orderkey FROM _sq_orders
            WHERE o_totalprice > (
              SELECT /*+ BROADCAST(c) */ avg(o_totalprice)
              FROM _sq_orders o
              JOIN _sq_cust c ON o.o_custkey = c.c_custkey
            )
            """
        )
        bad = self._forced_corpus_broadcasts(
            df._jdf.queryExecution().optimizedPlan()
        )
        assert bad == ["right:['customer[]']"]

    def test_no_registered_query_forces_corpus_broadcast(
        self, spark, sf_dir
    ):
        """Suite-wide walk: no forced corpus-proportional broadcast
        hints across every registered plan (subqueries included)
        beyond the enumerated constant-bounded probe/benchmark sides.
        Builds every logical plan, executes nothing. ~75s."""
        offenders = {}
        for name in REGISTRY:
            # pins reflect each query's STANDALONE plan: several
            # queries persist small derived tables, and a cached
            # subtree left behind by query N substitutes an
            # InMemoryRelation into any LATER query sharing an equal
            # subtree — same per-query cache policy as bench.py and
            # tests/oracle_compare.py
            spark.catalog.clearCache()
            df = REGISTRY[name].spark(spark, sf_dir)
            bad = self._forced_corpus_broadcasts(
                df._jdf.queryExecution().optimizedPlan()
            )
            if bad:
                # sorted multiset per query: the pin tracks the SET of
                # forced-broadcast sides+bounds, not optimizer walk
                # order, so a Spark upgrade that reorders join
                # children can't produce a spurious diff
                offenders[name] = sorted(bad)
        allowed = {
            k: sorted(v) for k, v in self.ALLOWED_CONSTANT_BOUNDED.items()
        }
        assert offenders == allowed, (
            "forced-broadcast surface changed; a NEW entry needs a "
            "constant-cardinality boundedness justification WITH its "
            "bounding predicate in the signature (or drop the hint "
            "and let stats elect)"
        )


class TestScanCountGuard:
    """Suite-wide cap on redundant corpus scans: no registered query
    may read the SAME corpus table through more than three distinct
    unbounded scan instances. The round-9 audits found nine queries
    re-deriving a corpus-sized subtree once per consumer (BPE vocab
    7-9 scans, basket-affinity pair stream 5) because a small derived
    table lacked a persist barrier; this pins the fixed state so a
    refactor can't silently reintroduce the N-scans shape.

    Counting rules (a JVM tree walk over the physical plan, not the
    plan string, which truncates long lines):
    - bounded scans (a constant comparison on an ID-like column in
      the data filters, e.g. ``vec_id < 10`` probe sets) are free —
      pushdown makes them near-zero-cost at any scale — and are not
      counted; constant bounds on VALUE columns still count (see
      ``_ID_BOUND_RE``);
    - scan instances are deduplicated by their attribute expression
      IDs, so a CACHED subtree reprinted at every reference (same
      IDs) counts once, while a genuinely re-derived subtree (fresh
      IDs from re-analysis) counts separately;
    - three is the registry's current maximum, and every 3-count is
      an inherent shape (TPC-H q21's triple lineitem, substring
      removal's gram/keep/rebuild passes), not a missing barrier.
    """

    MAX_UNBOUNDED_SAME_TABLE = 3

    # Queries whose inherent shape needs more than three same-table
    # passes — pinned EXACTLY so a regression past today's count (or
    # a new offender anywhere else) still fails:
    # - substring removal: gram chain inside the one-time persist
    #   build (2, distinct analysis ids) + token-position rebuild +
    #   keep anti-join side;
    # - setops: EXCEPT ALL + INTERSECT ALL = two set operations, each
    #   over two differently-filtered selections of lineitem.
    ALLOWED_SCAN_COUNTS = {
        # pipeline_curate_v2 dropped from this list in r13: the shared
        # LM/DSIR token-pair stream cut it from 5 documents scans to 2,
        # inside the global cap — re-adding an allowance here would
        # unpin that optimization. pipeline_per_source_cap_sketch
        # likewise (r13): the sketch now folds out of the persisted
        # per-key count table, so the sketch-build and distinct-keys
        # corpus passes collapsed into one (4 -> 3: keys, light
        # route, heavy route).
        "dedup_exact_substring_removal": {"documents": 4},
        "setops_all_lineitem": {"lineitem": 4},
    }

    # A scan is "bounded" (free at any corpus scale) only when a
    # pushed constant comparison hits an ID-LIKE column — the fixed
    # probe/codebook sets (vec_id < 10, doc_id < 10). A constant
    # bound on a VALUE column (l_quantity < 24) selects a corpus
    # FRACTION, not a constant cardinality, and must still count.
    _ID_BOUND_RE = re.compile(r"\w*(?:_id|key)#\d+L?\)?\s*(?:<=?|=)\s*\d+")

    @classmethod
    def _unbounded_scans(cls, node, acc):
        g = TestStructuralBroadcastGuard
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            cls._unbounded_scans(node.inputPlan(), acc)
            return acc
        if name == "InMemoryTableScanExec":
            cls._unbounded_scans(node.relation().cachedPlan(), acc)
            return acc
        if name == "FileSourceScanExec":
            table = g._scan_table(node)
            if table in g.CORPUS_TABLES and not cls._ID_BOUND_RE.search(
                node.dataFilters().toString()
            ):
                # simpleString carries the output attrs WITH expr ids:
                # cache reprints collapse, re-derivations don't
                acc.add((table, node.simpleString(25)))
            return acc
        ch = node.children()
        for i in range(ch.size()):
            cls._unbounded_scans(ch.apply(i), acc)
        subs = node.subqueriesAll()
        for i in range(subs.size()):
            cls._unbounded_scans(subs.apply(i), acc)
        return acc

    def test_no_query_rescans_a_corpus_table(self, spark, sf_dir):
        from collections import Counter

        offenders = {}
        for name in REGISTRY:
            # standalone-plan pins, same cache policy as the
            # broadcast guard above
            spark.catalog.clearCache()
            df = REGISTRY[name].spark(spark, sf_dir)
            scans = self._unbounded_scans(
                df._jdf.queryExecution().executedPlan(), set()
            )
            per_table = Counter(t for t, _ in scans)
            allowed = self.ALLOWED_SCAN_COUNTS.get(name, {})
            hot = {
                t: c
                for t, c in per_table.items()
                if c > max(
                    self.MAX_UNBOUNDED_SAME_TABLE, allowed.get(t, 0)
                )
            }
            if hot:
                offenders[name] = hot
        assert offenders == {}, (
            "a corpus table is scanned unbounded more than "
            f"{self.MAX_UNBOUNDED_SAME_TABLE}x in one query — usually a "
            "missing persist barrier on a small multi-consumer derived "
            "table (see COVERAGE.md round-9 scan audits): "
            f"{offenders}"
        )


class TestBoundedWindowAudit:
    """Every ``Window.orderBy(...)`` WITHOUT a partitionBy in the
    package moves its whole input through a SinglePartition exchange —
    acceptable ONLY when the input is provably sub-linear in the
    corpus. This audit enumerates the allowed sites; a new
    unpartitioned window anywhere else fails here and must either move
    to operators/prefix.py's two-phase scan or earn an allowlist entry
    with a boundedness justification."""

    # file -> (expected occurrence count, why each input is bounded)
    ALLOWED = {
        "operators/prefix.py": (
            3,
            "one row per physical partition / per group key — "
            "driver-size by construction (the offsets tables)",
        ),
        "queries/analytics3.py": (
            1,
            "histogram cumulative over fixed-width bins (bin-bounded)",
        ),
        "queries/relational7.py": (
            1,
            "7-day moving average over the daily rollup (date-bounded)",
        ),
        "queries/verify2.py": (
            1,
            "KS cumulative over the DISTINCT-length table "
            "(value-domain-bounded)",
        ),
        "queries/retrieval.py": (
            1,
            "BM25 rank applied AFTER .limit(25) (k-bounded)",
        ),
        "queries/text2.py": (
            1,
            "vocabulary rank applied AFTER .limit(20) (k-bounded)",
        ),
        "queries/pipeline3.py": (
            1,
            "per-source index over the |sources|-row counts table",
        ),
    }

    def test_no_new_unpartitioned_windows(self):
        import pathlib
        import re

        import bend_archiver_spark

        pkg = pathlib.Path(bend_archiver_spark.__file__).parent
        pat = re.compile(r"Window\.orderBy\(")
        found: dict[str, int] = {}
        for path in sorted(pkg.rglob("*.py")):
            n = 0
            for line in path.read_text().splitlines():
                stripped = line.strip()
                if stripped.startswith("#") or stripped.startswith("distribute:"):
                    continue  # prose, not code
                n += len(pat.findall(line))
            if n:
                found[str(path.relative_to(pkg))] = n
        expected = {k: v[0] for k, v in self.ALLOWED.items()}
        assert found == expected, (
            f"unpartitioned-window sites changed: {found} != {expected}; "
            "new sites need a prefix.py rewrite or an allowlist entry"
        )

    def test_pareto_uses_prefix_max(self, spark, sf_dir):
        """The skyline's exclusive running max must ride the two-phase
        range-exchange scan (plan shows the _pid partition window),
        not a SinglePartition window over the distinct-price table."""
        plan = plan_of(spark, sf_dir, "pareto_frontier_parts")
        assert "_pid" in plan


class TestCurateNearDedupPlan:
    def test_composition_shape(self, spark, sf_dir):
        """Quality filter + banded near-dup dedup compose into one DAG:
        the signature barrier (persisted shingles) is present, the
        funnel aggregate combines map-side, and nothing degenerates to
        an all-pairs product."""
        plan = plan_of(spark, sf_dir, "pipeline_curate_near_dedup")
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan  # signature barrier holds
        assert "partial" in plan  # funnel combines map-side


class TestSuiteWideCartesianBan:
    def test_no_registered_plan_has_cartesian_product(self, spark, sf_dir):
        """Suite-wide 100 TB guarantee: NO registered query may plan a
        CartesianProduct, ever. All pair-generating operators go
        through bucketed equi-joins (LSH bands, pigeonhole simhash,
        shingle postings, wedge joins); the only nested-loop joins in
        the suite are bounded-build-side broadcasts (one-row stats,
        codebooks, greedy-round argmaxes), which plan as
        BroadcastNestedLoopJoin, not CartesianProduct. ~70s: builds
        every plan, executes nothing."""
        offenders = [
            name
            for name in REGISTRY
            if "CartesianProduct" in plan_of(spark, sf_dir, name)
        ]
        assert offenders == []


class TestPlanLedgerCurrent:
    def test_recorded_fingerprints_match_live_plans(
        self, sf_dir, release_heap
    ):
        """Every registry query's live canonicalized optimized plan
        must hash to its PLANS.json record — the enforcement half of
        the mechanized re-tier ledger (__spark_entry__ docstring). A
        plan change without `tools/plan_fingerprints.py --update
        --round N` fails HERE, instead of silently keeping the query
        in emission tier 2 with a stale green row (the round-10
        hand-bookkeeping bug). Plans are built in a subprocess on
        local[LEDGER_CPUS], the count the ledger is recorded at, so
        the check holds on any host. Builds every plan, executes
        nothing beyond construction-time sizing probes (~2-4 min)."""
        import json

        from tools.plan_fingerprints import fingerprint_all_pinned

        with open("PLANS.json") as f:
            ledger = json.load(f)
        mismatched = {}
        for name, live in fingerprint_all_pinned(sf_dir).items():
            want = ledger["queries"].get(name, {}).get("hash")
            if live != want:
                mismatched[name] = {"recorded": want, "live": live}
        assert mismatched == {}, (
            "plans changed without re-recording the ledger — run "
            "`python tools/plan_fingerprints.py --update --round N` "
            f"so these re-earn driver rows: {sorted(mismatched)}"
        )


class TestCurateDocumentsSingleShuffle:
    def test_no_joins_one_exchange(self, spark, sf_dir):
        """Round 7: the quality gate is an inline scan predicate and
        the keeper metadata rides min_by inside the dedup groupBy —
        the whole pipeline is one map-combinable shuffle over ONE
        document scan, zero joins."""
        plan = plan_of(spark, sf_dir, "pipeline_curate_documents")
        assert "Join" not in plan
        assert plan.count("FileScan parquet") == 1
        assert "partial" in plan
