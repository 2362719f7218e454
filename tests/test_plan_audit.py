"""Physical-plan audit: the scale stance, asserted.

These tests pin the plan shapes that make the engine survive 100x data
growth — filter pushdown into the parquet scan, column-pruned ReadSchema,
broadcast hash joins (never nested-loop) for interval/dim joins, whole-stage
codegen on hot paths, and zero row-at-a-time Python in any query.  A
regression here is a performance bug even while results stay correct.
"""

from __future__ import annotations

import pytest

from variant_load_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = Q.registry()[name].spark_fn(spark, SF)
    return spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruning: the scan must not read join-irrelevant wide cols
    assert "l_comment" not in plan


def test_interval_join_is_broadcast_hash_not_nested_loop(spark):
    plan = plan_of(spark, "j1_interval_overlap")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_five_way_join_broadcasts_dims(spark):
    plan = plan_of(spark, "j14_five_way_missense")
    assert "BroadcastHashJoin" in plan


def test_topk_query_broadcasts_filtered_dim(spark):
    plan = plan_of(spark, "q3_shipping_priority_topk")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan


def test_ivf_persisted_probe_prunes_partitions(spark):
    """The persisted IVF index's whole point: probing n lists is an IN
    filter over the list_id PARTITION column, so the reload-side scan
    reads only the probed lists' files (PartitionFilters, not a full
    scan + post-filter)."""
    plan = plan_of(spark, "ann_ivf_persisted_topk")
    assert "PartitionFilters: [list_id" in plan.replace(
        "PartitionFilters: [isnotnull(list_id", "PartitionFilters: [list_id"
    ), plan
    assert "list_id" in plan.split("PartitionFilters")[1].split("]")[0]


def test_ivf_compacted_probe_prunes_partitions(spark):
    """After compact_ivf_index folds the delta store, a probe against
    the folded index must keep the exact shape the seed index had:
    candidate fetch is a broadcast equi-join over a partition-pruned
    lists scan — the fold is invisible to the plan, not just to the
    results."""
    plan = plan_of(spark, "ivf_compact_probe_parity")
    assert "BroadcastHashJoin" in plan
    assert "PartitionFilters" in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_join_strategy_constant_codegen(spark, tmp_path):
    """Above IVF_LITERAL_MAX_TERMS the probe must ride the centroid
    table as broadcast DATA: the join-path plan stays constant-size
    however large k*dim grows, while the literal path's plan embeds
    every centroid.  Pinned by comparing plan text sizes on the same
    over-threshold index."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.clustering import (
        IVF_LITERAL_MAX_TERMS,
        ivf_probe_batch,
        write_ivf_index,
    )

    e = Q.load(spark, SF, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    n_lists = IVF_LITERAL_MAX_TERMS // dim + 1  # just over the boundary
    path = str(tmp_path / "ivf")
    write_ivf_index(e.withColumn("label", F.col("vec_id") % n_lists), path)
    anchors = e.limit(20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )

    def plan(strategy):
        df = ivf_probe_batch(spark, path, anchors, strategy=strategy)
        return spark._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    lit_plan, join_plan = plan("literal"), plan("join")
    # the literal plan carries k*dim scalar literals; the join plan's
    # text must be a small fraction of it (constant-size codegen)
    assert len(join_plan) < len(lit_plan) / 5, (
        len(join_plan),
        len(lit_plan),
    )
    assert "CartesianProduct" not in join_plan


def test_emb_near_dup_is_equi_join_with_hoisted_norms(spark):
    """emb_near_dup_cosine's scale shape, pinned after a round-5 timing
    drift: the candidate pairing must be an EQUI hash join on the label
    blocking key (the LSH-bucket stand-in) — never a nested-loop over
    the quadratic pair space — and each side's norm must be computed
    BELOW the join (one fold per vector) rather than per pair."""
    plan = plan_of(spark, "emb_near_dup_cosine")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # the join must key on the label blocking column (equi), and each
    # side's projection must carry the hoisted norm fold (SQRT over the
    # self-zip_with aggregate) so cosine costs one fold per PAIR, not three
    assert "Left keys [1]: [label#" in plan, plan
    assert plan.count("SQRT") >= 2, "norms must be hoisted below the join"


def _windowspec_args(plan: str):
    """Yield the full (balanced-paren) argument string of every
    windowspecdefinition in a formatted plan.  A naive [^)]* regex stops at
    the first ')' and mis-parses specs whose order expression itself
    contains parentheses (e.g. lower(id#14) ASC)."""
    needle = "windowspecdefinition("
    i = 0
    while True:
        i = plan.find(needle, i)
        if i < 0:
            return
        j = i + len(needle)
        depth = 1
        k = j
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        yield plan[j : k - 1]
        i = k


def _first_toplevel_arg(args: str) -> str:
    depth = 0
    for i, ch in enumerate(args):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return args[:i]
    return args


def _partitionless_specs(plan: str):
    """Specs whose FIRST top-level argument is an order expression (tagged
    ASC/DESC) — i.e. the partition column list is empty."""
    out = []
    for args in _windowspec_args(plan):
        first = _first_toplevel_arg(args)
        if " ASC" in first or " DESC" in first:
            out.append(args[:70])
    return out


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority_topk", "j4_dedup_upsert_ids",
     "w1_sorted_export_rank"],
)
def test_rank_queries_have_no_global_window(spark, name):
    """The three queries the round-1 audit flagged as global-window
    scale-killers: ranks must come from TakeOrderedAndProject (q3) or
    bucketed two-phase allocation (j4/w1), never a partition-less Window."""
    plan = plan_of(spark, name)
    assert not _partitionless_specs(plan), (name, _partitionless_specs(plan))


def test_q3_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q3_shipping_priority_topk")
    assert "TakeOrderedAndProject" in plan


def test_label_blocked_near_dup_is_equi_join(spark):
    # the label block must plan as a hash equi join, never a cross join
    plan = plan_of(spark, "emb_near_dup_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zygosity_stays_in_codegen(spark):
    plan = plan_of(spark, "zygosity_snv")
    # formatted mode tags whole-stage-codegen'd operators with [codegen id]
    assert "codegen id" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "j1_interval_overlap",
        "j4_dedup_upsert_ids",
        "zygosity_snv",
        "near_dup_pairs",
        "ann_cosine_topk",
        "c13_translate",
        "emb_near_dup_cosine",
        "ann_ivf_topk",
        "doc_fingerprint_rolling",
        "events_sessionize",
    ],
)
def test_no_python_udf_in_query_paths(spark, name):
    # BatchEvalPython = row-at-a-time Python UDF; ArrowEvalPython = pandas
    # UDF.  Neither belongs in these query paths — Arrow-batched kernels are
    # reserved for the CDS-assembly/vectorized-ANN paths
    # (ann_cosine_topk intentionally uses mapInPandas + numpy matmul).
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    ["w6_first_match_wins", "j16_consume_first_match", "j4_dedup_upsert_ids",
     "w1_sorted_export_rank", "j6_j8_transcript_features",
     # wave-6 order-sensitive additions: deterministic shard order,
     # sequence order, PMI rank ties, GD train reproducibility
     "training_shard_assignment", "user_event_sequences",
     "colloc_pmi_topk", "quality_lr_train"],
)
def test_order_sensitive_queries_partitioning_invariant(spark, name):
    """The order-dependent operators (first-match-wins, consume-first-match
    pairing, deterministic id allocation, sorted export, load-bearing
    feature order) must produce IDENTICAL results under different shuffle
    partitionings — the determinism contract of SURVEY §7.4."""
    def rows():
        df = Q.registry()[name].spark_fn(spark, SF)
        return sorted(tuple(r) for r in df.collect())

    spark.conf.set("spark.sql.shuffle.partitions", "32")
    a = rows()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = rows()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert a == b


@pytest.mark.slow
def test_no_registered_query_has_partitionless_window(spark):
    """Registry-wide invariant: NO query's returned plan carries a Window
    with an empty partition spec (the round-1 audit's scale-killer
    pattern).  Bounded small-table ordering needs (top-k, cumulative
    bucket offsets, header successor lookup) are all expressed as
    TakeOrderedAndProject or broadcast theta-joins instead.

    Scope note: file-scan queries also run side-effect generator jobs at
    construction time (driver fixture writes); those plans are separately
    covered by the sink/source modules' own audits — this test asserts on
    the plan each query RETURNS."""
    from variant_load_pipeline_spark import queries as Q

    offenders = []
    for name, q in sorted(Q.registry().items()):
        df = q.spark_fn(spark, SF)
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        specs = _partitionless_specs(plan)
        if specs:
            offenders.append((name, specs[0]))
    assert not offenders, offenders


def test_orc_reload_scan_prunes_partitions(spark):
    """orc_roundtrip_scan's point: the lang filter must land in the ORC
    reload scan's PartitionFilters — format-independent partition
    pruning, same contract the parquet stores pin."""
    plan = plan_of(spark, "orc_roundtrip_scan")
    seg = plan.split("PartitionFilters")
    assert len(seg) > 1, plan
    assert "lang" in seg[1].split("]")[0], plan


def test_variant_store_scan_prunes_partitions(spark, tmp_path):
    """F3: the (map_key, chromosome) equality filters on the partitioned
    variant store must land in PartitionFilters — a chromosome-scoped load
    reads only that chromosome's files (VariantLoad3.java:229-233)."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.plans.load import (
        read_variant_store,
        write_variant_store,
    )

    rows = spark.range(200).select(
        F.lit("v").alias("ref_nuc"),
        (F.col("id") * 13 % 1000).alias("start_pos"),
        (F.col("id") % 3 + 1).cast("int").alias("map_key"),
        F.when(F.col("id") % 5 == 0, F.lit("X"))
        .otherwise((F.col("id") % 5).cast("string"))
        .alias("chromosome"),
    )
    path = str(tmp_path / "store")
    write_variant_store(rows, path)
    df = read_variant_store(spark, path, map_key=2, chromosome="3")
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert "map_key" in pf[0] and "chromosome" in pf[0], pf[0]
    # and the pruned scan returns exactly the matching partition's rows
    got = df.collect()
    assert got and all(
        r["map_key"] == 2 and r["chromosome"] == "3" for r in got
    )


def test_chromosome_skew_does_not_concentrate_partitions(spark):
    """SURVEY §7.4's chr1 >> chrMT skew, pinned: with 90% of variants on
    ONE chromosome, the annotation path must not funnel the hot
    chromosome through one task.  The binned interval join's key is
    (chrom, bin) — a hot chromosome spreads over its position bins — so
    even the non-broadcast shuffle path stays balanced, and AQE can
    split/coalesce what remains.  A chromosome-keyed join would put 90%
    of rows in one partition; assert the max partition share stays within
    twice the balanced share 1 / (number of partitions)."""
    from pyspark.sql import functions as F

    from variant_load_pipeline_spark.operators.interval_join import (
        point_in_interval_join,
    )

    n = 60_000
    variants = spark.range(n).select(
        F.col("id").alias("vid"),
        F.when(F.col("id") % 10 != 0, F.lit("1"))
        .otherwise(F.lit("MT"))
        .alias("chrom"),
        (F.col("id") * 1_663 % 100_000_000).alias("pos"),
    )
    genes = spark.range(2_000).select(
        F.col("id").alias("gene_id"),
        F.when(F.col("id") % 10 != 0, F.lit("1"))
        .otherwise(F.lit("MT"))
        .alias("gchrom"),
        (F.col("id") * 49_999 % 99_000_000).alias("gstart"),
        (F.col("id") * 49_999 % 99_000_000 + 250_000).alias("gstop"),
    )
    out = point_in_interval_join(
        variants,
        genes,
        point_chrom="chrom",
        point_pos="pos",
        ivl_chrom="gchrom",
        ivl_start="gstart",
        ivl_end="gstop",
        strategy="binned",
        broadcast_intervals=False,  # force the shuffle path: worst case
    )
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "NestedLoop" not in plan  # equi key even without broadcast

    def max_share_and_bound(df):
        # one count per partition, empty ones included; a balanced split
        # puts 1/len(counts) in each, a funnel puts ~0.9 in one
        counts = df.select("vid").rdd.glom().map(len).collect()
        return max(counts) / sum(counts), 2 / len(counts), counts

    share, bound, counts = max_share_and_bound(out)
    assert sum(counts) > 10_000  # the join actually produced candidate pairs
    # binning keeps the hot chromosome spread across its ~1000 position bins
    assert share <= bound, (share, bound, counts)
    # the bound catches the funnel: the same rows shuffled by chromosome
    # into as many partitions put the hot chromosome's ~90% in one
    funnel, bound, counts = max_share_and_bound(
        out.repartition(len(counts), "chrom")
    )
    assert funnel > bound, (funnel, bound, counts)


def test_paragraph_dedup_dupjoin_is_broadcast(spark):
    # the duplicated-hash set must broadcast into the marker join (a
    # LEFT OUTER since the single-explode rewrite — kept rows are the
    # unmatched ones); the corpus-sized side never shuffles on
    # paragraph text
    plan = plan_of(spark, "paragraph_dedup")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_dup_span_and_gopher_stay_jvm_side(spark):
    for name in ("dup_span_detect", "gopher_quality_filter"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    # the rule filter is a pure per-row projection: one scan, no shuffle
    assert "Exchange" not in plan_of(spark, "gopher_quality_filter")


def test_semdedup_candidates_are_cluster_equi_join(spark):
    # SemDeDup's whole point: clustering bounds the pair space, so the
    # pair join must be a hash equi join on the cluster id — never a
    # cross join over the corpus
    plan = plan_of(spark, "semdedup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rrf_fusion_lists_are_take_ordered(spark):
    # per-system candidate lists must come from per-partition heaps
    # (TakeOrderedAndProject), not a global sort of the corpus
    plan = plan_of(spark, "rrf_hybrid_topk")
    assert "TakeOrderedAndProject" in plan


def test_source_mixing_rates_broadcast_back(spark):
    # the per-source rate table must broadcast; the corpus side stays a
    # map-side projection (no shuffle of the documents on the join key)
    plan = plan_of(spark, "source_mixing_sample")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unigram_surprisal_no_python_and_no_cross_join(spark):
    plan = plan_of(spark, "unigram_surprisal")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_query_has_no_join_node(spark):
    # the as-of operator's whole point: a single-shuffle window sweep,
    # never a range join (BNLJ) or an equi-join + argmax
    plan = plan_of(spark, "events_asof_join")
    assert "Join" not in plan
    assert "Window" in plan


def test_percentile_cutoffs_broadcast_back(spark):
    # per-lang cutoffs must broadcast; the documents side is one scan
    plan = plan_of(spark, "quality_percentile_filter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the running sum windows over (lang, DISTINCT score), after an agg —
    # never a window over the raw documents partition
    assert plan.index("Window") > plan.index("HashAggregate")


def test_sketch_queries_stay_jvm_side(spark):
    for name in (
        "heavy_hitter_terms",
        "distinct_ngram_estimate",
        "bigram_backoff_surprisal",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bloom_filter_probes_broadcast(spark):
    plan = plan_of(spark, "bloom_prejoin_filter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_is_not_nested_loop(spark):
    # equality on user_id must anchor a hash/merge join; the time-range
    # predicate rides as a residual, never a BNLJ over the corpus
    plan = plan_of(spark, "events_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_and_salted_stay_jvm_side(spark):
    for name in ("zorder_layout_stats", "j_salted_skew_join"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bucketed_join_has_no_shuffle(spark):
    # the whole point of bucketing: the orderkey join runs shuffle-free
    plan = plan_of(spark, "bucketed_join_revenue")
    assert "SortMergeJoin" in plan
    join_part = plan.split("HashAggregate")[0]
    assert "Exchange hashpartitioning" not in join_part, join_part[-2000:]


# Queries whose plan INTENTIONALLY contains a cartesian/nested-loop join:
# exact brute-force baselines over a BOUNDED side (query sets, demo pair
# spaces) — each one's docstring names the banded/bucketed scale path.
_ALLOWED_UNBOUNDED_JOINS = {
    "ann_cosine_topk",       # broadcast query set x corpus (exact baseline)
    "ann_cosine_matmul",     # same, matmul kernel
    "ann_q8_topk",           # quantized twin of the baseline
    "ann_lsh_recall",        # recall gate re-runs the exact baseline
    "emb_hashing_topk",      # hash-embed -> exact-baseline comparison
    "mmr_diverse_topk",      # pool ranking seeds from the exact baseline
    "ann_pq_adc_topk",       # broadcast per-query ADC tables x codes
    "ann_pq_persisted_topk",  # same ADC query shape, reloaded index
    "distinct_ngram_estimate",  # 1-row constants broadcast
    "unigram_surprisal",     # 1-row (N, V) constants broadcast
    "bigram_backoff_surprisal",  # 1-row constants broadcast
    "source_kl_divergence",  # 1-row corpus totals broadcast
    "dq_validation_report",  # 1-row metrics frame exploded
    "quality_percentile_filter",  # per-lang cutoffs broadcast
    "histogram_quantile_estimate",  # tiny quantile spec cross join
    "sequence_packing",      # per-shard bin spec
    "doc_chunking",
    "tfidf_top_terms",       # 1-row doc-count constant
    "bm25_topk",             # 1-row stats constant
    "bm25_persisted_topk",   # same 1-row stats constant, reloaded index
    "rrf_hybrid_topk",
    "gopher_quality_filter",
    "bpe_learn_merges",
    "weighted_sample_es",
    "corpus_dedup_keeplist",
    "near_dup_components", "near_dup_components_star",
    "s6_fasta_scan", "p29_annotate_pairs", "p29_annotate_chunked",
    "p29_annotate_indel", "k6_fasta_render",
    "vcfconv_pipeline", "c22_protein_flank",
    "ann_ivf_topk",          # broadcast query set x assigned corpus
    "j4_dedup_upsert_ids",   # 1-row max-existing-id scalar join
    "s7_wiggle_file_scan",   # broadcast declaration-range theta-join
    "source_mixing_sample",  # 1-row corpus-total constants
    "w1_sorted_export_rank", # bounded rank-spec side
    "chi2_lang_source",      # 1-row grand-total constant
    "knn_label_predict",     # broadcast held-out query block x corpus
    "nb_lang_classifier",    # broadcast class/vocab model constants
    "jl_projection_recall",  # broadcast query block x corpus (exact baseline)
    "temperature_mixing_weights",  # 1-row weight-total scalar join
    "colloc_pmi_topk",       # 1-row corpus-total constants
    "ann_hard_negatives",    # broadcast query block x corpus (exact baseline)
    "dsir_importance_weights",  # 1-row token-total constants
    "unimax_allocation",     # 1-row saturation-point scalar join
    "dedup_cluster_stats",   # 1-row singleton-count scalar join
    "quality_lr_train",      # 1-row doc-count scalar join per GD step
    "quality_lr_score",      # same GD chain + final scoring join
    "rerank_quality_topk",   # same GD chain (1-row scalar joins); the
                             # candidate side is the broadcast top-20
    "rerank_batch_topk",     # same GD chain 1-row scalar joins; probe
                             # selection and candidate fetch themselves
                             # plan NO nested loop (codegen probe +
                             # broadcast equi-join, like the _ivf twins)
    "ivf_nprobe_recall_sweep",  # exact-recall baseline: broadcast 1-query
                                # block x corpus (the thing being audited)
    "contrastive_triplets",  # broadcast anchor block x corpus (exact
                             # miner; bucketed ANN is the scale path)
    "curriculum_schedule",   # 1-row (N, V) surprisal constants broadcast
    "ccnet_perplexity_buckets",  # same surprisal constants
    "lsh_band_sweep",        # exact-truth baseline on a FIXED 250-doc
                             # sample + 1-row truth-total broadcast
    "doremi_domain_weights", # 1-row corpus constants + normalizer
    "ann_ndcg_eval",         # exact-baseline block + 1-row DCG frames
    "ivf_ingest_append",     # broadcast query vec x probed lists (the
                             # persisted-probe shape, ann_ivf twin)
    "quality_calibration_ece",  # same GD chain 1-row scalar joins
    "quality_lr_apply_persisted",  # same GD chain at construct; apply
                                   # itself is one broadcast weight join
    "ivf_list_skew_report",  # 1-row occupancy totals broadcast
    "negative_sampling_topk",  # 1-row max-item scalar join
    "lm_persisted_surprisal",  # 1-row (N, V) model constants broadcast
    "docs_contract_report",    # 1-row metrics frame exploded
    "backfill_report",         # 1-row max-week scalar join
    "quality_pr_sweep",        # same GD chain 1-row scalar joins + the
                               # broadcast 9-row threshold table (the
                               # only fan-out is x9, constant in corpus)
    "rho_loss_selection",      # 1-row (N, V)x2 LM-constant broadcast
    "rho_persisted_selection",  # same 1-row constants, reloaded model
    "maxsim_late_interaction",  # bounded query-token block x corpus
                                # (exact baseline; ANN candidates at scale)
    "kmv_sketch_intersection",  # 20x20 source pair frame (bounded by
                                # source cardinality, not corpus size)
    "kmv_overlap_probe_only",   # same source-pair frame, read from the
                                # persisted O(sources x k) sketch store
    "bm25_compact_probe_only",  # bm25_topk's 1-row stats constant, over
                                # the folded index
    "bm25_filtered_topk",       # same 1-row stats constant; the filter
                                # rides the pruned postings scan
    "rrf_hybrid_filtered_topk",  # same 1-row stats constant + the
                                 # bounded 2x20 fusion theta-join
                                 # (rrf_hybrid_topk's idiom)
    "bm25_idf_drift_report",    # two 1-row corpus-size constants
                                # broadcast (seed-epoch N, current N)
    "bm25_bucket_skew_report",  # 1-row grand-total broadcast over the
                                # fixed 64-row bucket spine
    "ann_filtered_auto_topk",   # exact-fallback branch only: bounded
                                # anchor block x the FILTERED survivors
                                # (fires exactly when that subset is
                                # k-starved — tiny by definition); the
                                # probe branch plans the pruned
                                # broadcast equi-join
}


@pytest.mark.slow
def test_registry_wide_no_unbounded_joins(spark):
    """Registry-wide scale invariant: no query plans a CartesianProduct or
    BroadcastNestedLoopJoin unless it is on the documented allowlist of
    bounded-side exact baselines / 1-row constant joins.  A new query that
    accidentally plans an unbounded join fails here before it ships."""
    from variant_load_pipeline_spark import queries as Q

    offenders = []
    for name, q in sorted(Q.registry().items()):
        df = q.spark_fn(spark, SF)
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        bad = (
            "CartesianProduct" in plan
            or "BroadcastNestedLoopJoin" in plan
        )
        if bad and name not in _ALLOWED_UNBOUNDED_JOINS:
            offenders.append(name)
    assert not offenders, offenders
