"""Physical-plan shape gates: the properties that make the operators hold
at 100 TB, asserted on the actual Catalyst output (explain), not by
convention — a regression that swaps a broadcast join for a shuffle or
drops a parquet filter pushdown fails here long before it shows in wall
time at test scale."""

from __future__ import annotations

import pyspark.sql.functions as F

from bran_spark.plans.oracle_queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark, testdata_dir):
    df = (
        spark.read.parquet(f"{testdata_dir}/lineitem.parquet")
        .where(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # column pruning: the scan's ReadSchema carries only the two columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_dimension_joins_are_broadcast(spark, fx_dir):
    """Linking/detection joins must be broadcast (map-side) — a sort-merge
    join here would shuffle the full corpus against a dictionary."""
    from bran_spark.operators.mentions import detect_mentions
    from bran_spark.functions.bpe import with_words, full_text_col

    docs = spark.read.parquet(f"{fx_dir}/documents_interleaved.parquet").withColumn(
        "full_text", full_text_col("spans")
    )
    mesh = spark.read.parquet(f"{fx_dir}/mesh_dict.parquet")
    plan = _plan(detect_mentions(with_words(docs), mesh))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_crosses_into_python_twice(spark, fx_dir):
    """The lazy flagship runs one word-split pandas UDF (feeding JVM
    detection) and one scorer mapInPandas that tokenizes, encodes and
    scores: every extra Python node is another set of Python tasks, each
    with a fixed start-up cost."""
    from bran_spark.plans.pipeline import flagship

    plan = _plan(flagship(spark, fx_dir))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("MapInPandas") == 1, plan


def test_relational_corpus_ops_have_no_python(spark, testdata_dir):
    """Dedup/similarity/text-analysis operators are pure JVM plans: no
    Python UDF stage anywhere (BatchEvalPython/ArrowEvalPython/PythonUDF)."""
    for name in [
        "q27_dedup_exact",
        "q29_dedup_minhash_lsh",
        "q30_sim_topk_cosine",
        "q32_quality_score",
        "q36_lang_id",
        "q40_simhash_md5",
        "q41_asof_join",
        "q42_sim_ivf",
        "q43_sessionize",
    ]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name} has python stage {marker}"


def test_topk_is_take_ordered_not_full_sort(spark, testdata_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject — a global Sort
    followed by Limit materializes the full sorted corpus at scale."""
    plan = _plan(QUERIES["q30_sim_topk_cosine"](spark, testdata_dir))
    assert "TakeOrderedAndProject" in plan


def test_lse_pooling_has_partial_aggregation(spark, testdata_dir):
    """A2's groupBy must map-side combine (partial_ HashAggregate before the
    exchange) — without it every raw score row crosses the shuffle."""
    plan = _plan(QUERIES["q18_lse_pooling"](spark, testdata_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_exact_dedup_is_single_shuffle(spark, testdata_dir):
    from bran_spark.operators.dedup import exact_dedup_groups

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    plan = _plan(exact_dedup_groups(docs, "doc_id", "text"))
    assert plan.count("Exchange") == 1


def test_ngram_jaccard_broadcasts_hot_side_anti(spark, testdata_dir):
    """The df-cut must broadcast the TINY hot-shingle set (df > max_df) and
    remove it with a left-anti join. Broadcasting the kept set — nearly the
    whole shingle vocabulary under Zipf — is a driver OOM at corpus scale."""
    from bran_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    plan = _plan(
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.1, max_df=30)
    )
    assert "LeftAnti" in plan, "df-cut is no longer an anti-join"
    anti_line = next(ln for ln in plan.splitlines() if "LeftAnti" in ln)
    assert "BroadcastHashJoin" in anti_line, "hot-shingle side not broadcast"


def test_embedding_neardup_no_cartesian_and_bounded_join(spark, testdata_dir):
    """Banded sign-LSH candidates: equi-join on (band, key) — never a
    cartesian/nested-loop product of the embedding table with itself."""
    from bran_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs(emb, min_cos=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_covers_relational_path(spark, testdata_dir):
    df = QUERIES["q01_pricing_summary"](spark, testdata_dir)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string; both
    # the partial and final aggregate must sit inside one
    assert "*(1)" in plan and "*(2)" in plan and "isFinalPlan=true" in plan


def test_tfidf_topk_uses_window_group_limit(spark, testdata_dir):
    """q59: the per-doc top-k cut must push through the window
    (WindowGroupLimit partial+final) so only k rows per doc cross the
    exchange, and N must be a 1-row broadcast — not a shuffle."""
    from bran_spark.operators.search import tfidf_top_terms

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    plan = _plan(tfidf_top_terms(docs, k=5))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N cross join


def test_stratified_sample_is_shuffle_free(spark, testdata_dir):
    """q61: pure projection + filter — any Exchange here means the sampler
    stopped being embarrassingly parallel."""
    from bran_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    plan = _plan(stratified_sample(docs, "lang", {"en": 0.1}, default_rate=0.3))
    assert "Exchange" not in plan


def test_triangle_projection_broadcasts_hot_cut_and_keys(spark):
    """q57: the hot-pivot df-cut must be a broadcast anti-join and the
    node-key lookups broadcast — the corpus-sized side never shuffles for
    a dimension."""
    from bran_spark.operators.graphalgo import project_bipartite, triangle_counts

    pairs = spark.createDataFrame(
        [(f"c{i}", f"d{i % 7}") for i in range(50)], "subj string, obj string"
    )
    proj = project_bipartite(pairs, max_pivot_deg=10)
    pplan = _plan(proj)
    assert "BroadcastHashJoin" in pplan and "LeftAnti" in pplan
    # the key-lookup broadcasts sit BEFORE triangle_counts' eager
    # localCheckpoint, so the final plan only shows the wedge+closing joins —
    # assert those are equi-joins, never a cartesian fallback
    tplan = _plan(triangle_counts(proj))
    assert "CartesianProduct" not in tplan
    assert "BroadcastNestedLoopJoin" not in tplan


def test_merge_latest_single_shuffle(spark, testdata_dir):
    """q67: union is shuffle-free; exactly ONE hash exchange (the keyed
    window), with WindowGroupLimit trimming before it."""
    from bran_spark.operators.asof import merge_latest

    ev = spark.read.parquet(f"{testdata_dir}/events.parquet")
    base = ev.where(F.col("value") < 50)
    upd = ev.where(F.col("value") >= 50)
    plan = _plan(merge_latest(base, upd, ["user_id", "event_type"], "ts", "event_id"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan


def test_interval_join_is_equi_not_nested_loop(spark, testdata_dir):
    """q80: the bucketed rewrite must plan an equi-join; the naive range
    join would appear as BroadcastNestedLoopJoin/CartesianProduct."""
    plan = _plan(QUERIES["q80_session_busy_overlap"](spark, testdata_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_chunking_and_kwic_have_zero_exchange(spark, testdata_dir):
    """q93 chunking and q94 keyword contexts are row-local array math —
    the physical plan must contain NO Exchange (and no Python stage)."""
    for name in ("q93_doc_chunking", "q94_keyword_contexts"):
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name


def test_unigram_logprob_splits_hot_words_onto_broadcast(spark, testdata_dir):
    """q97's word-keyed frequency attach is Zipf-skewed; the plan must show
    the split: a BroadcastHashJoin for the hot top-K tokens (plus the
    broadcast anti-join carving them out) alongside the shuffled join for
    the tail — never a single shuffle join carrying the hottest keys."""
    plan = _plan(QUERIES["q97_unigram_logprob"](spark, testdata_dir))
    assert plan.count("BroadcastHashJoin") >= 2   # hot attach + anti carve-out
    assert "LeftAnti" in plan
    # the cold-tail join is left to Catalyst: at this SF the whole freq dim
    # fits the broadcast threshold (so no SMJ appears); at vocabulary scale
    # it exceeds it and AQE plans the shuffle — what matters here is that
    # the corpus token stream is never the BUILD side of any join
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan  # 1-row total


def test_mix_rebalance_broadcasts_rates(spark, testdata_dir):
    """q98's per-group rate table is dimension-sized and must broadcast;
    the only corpus shuffle is the counts aggregate feeding it."""
    plan = _plan(QUERIES["q98_mix_rebalance"](spark, testdata_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_bench_not_corpus(spark, testdata_dir):
    """q108's scale contract: the benchmark shingle set is the BROADCAST
    side of the contamination join — the corpus n-gram stream must never
    be shuffled on the shingle key (an Exchange there is the 10^12-doc
    scan being re-keyed on a string column)."""
    from bran_spark.operators.dedup import decontaminate
    from bran_spark.functions.text import words

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 41 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(words("text"), 1, 12), " ").alias("btext"),
    )
    df = decontaminate(docs, bench, "doc_id", "text", "bench_id", "btext")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no Python stage anywhere — pure JVM expressions
    assert "EvalPython" not in plan


def test_semantic_dedup_no_cartesian_and_no_python(spark, testdata_dir):
    """q110: the pairwise sweep must stay an EQUI-join on the cell key — a
    CartesianProduct there means the (N/k)^2-bounded design regressed to
    N^2 global. BroadcastNestedLoopJoins DO appear and are correct: they
    are kmeans_cells' centroid-argmin assignment, whose build side is the
    k-row centroid table (the documented broadcast — same accepted shape
    as q47); the vector-vs-vector join must not take that form."""
    from bran_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, tau=0.4, k=8, iters=2))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the intra-cell sweep: an equi-join keyed on cell with the id_a < id_b
    # pair condition — present as a real (sort-merge or shuffled-hash) join
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[cell#\d+L?\]", plan), plan[:2000]


def test_mask_duplicate_spans_single_window_key_shuffle(spark, testdata_dir):
    """q109 stays pure-JVM (row-local array math, no UDF) and its only
    corpus-keyed aggregation exchanges are on the window key and doc id —
    no join writes the corpus twice."""
    from bran_spark.operators.dedup import mask_duplicate_spans

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    plan = _plan(mask_duplicate_spans(docs, "doc_id", "text"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_winnowing_is_row_local_zero_exchange(spark, testdata_dir):
    """q116 winnowing fingerprints are pure array math in one projection:
    no Exchange, no Python stage."""
    plan = _plan(QUERIES["q116_winnow_fingerprints"](spark, testdata_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dsir_draw_take_ordered_and_hot_broadcast(spark, testdata_dir):
    """q115's final draw must be TakeOrderedAndProject (top-k, never a
    full sort) and the Zipf-hot word attach must ride broadcast joins
    (hot attach + anti carve-out), mirroring q97's contract."""
    plan = _plan(QUERIES["q115_dsir_resample"](spark, testdata_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in plan


def test_jl_projection_broadcasts_generated_matrix(spark, testdata_dir):
    """q124's d×k ±1 matrix is generated and must be the broadcast side;
    no cartesian product, no Python stage."""
    plan = _plan(QUERIES["q124_jl_projection"](spark, testdata_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_countmin_probe_join_is_broadcast(spark, testdata_dir):
    """q125: the depth×width sketch is tiny and must broadcast to the
    probe side — a SortMergeJoin here would shuffle the audit through
    the cluster for a 1024-row table."""
    plan = _plan(QUERIES["q125_countmin_audit"](spark, testdata_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_outliers_no_corpus_join(spark, testdata_dir):
    """q122: centroid and moments attach as 1-row/O(d) broadcasts
    (BroadcastNestedLoopJoin is the legal 1-row cross); the scoring pass
    must not shuffle the store on any key."""
    plan = _plan(QUERIES["q122_embedding_outliers"](spark, testdata_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_validate_kg_constraint_dim_is_broadcast(spark, testdata_dir):
    """q146: the constraint table is predicate-vocabulary-sized and must
    attach as a broadcast onto the single triple scan — and the whole
    validator stays JVM-side."""
    plan = _plan(QUERIES["q146_kg_constraints"](spark, testdata_dir))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_star_pattern_arms_are_semi_joins(spark, testdata_dir):
    """q150: every arm applies as a LEFT SEMI join (bindings can never be
    multiplied by arm fan-out) and no arm degenerates to a cartesian."""
    plan = _plan(QUERIES["q150_star_pattern"](spark, testdata_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_alignment_and_blocking_no_cartesian_no_python(spark, testdata_dir):
    """q148/q149: candidate generation is a (pred,obj)/block equi-join
    after the hot-key df-cut — never an all-pairs product, never Python."""
    for name in ["q148_entity_alignment", "q149_blocking_pairs"]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Python" not in plan, name


def test_fs_score_never_melts_candidates(spark):
    """fs_score must stay a projection over the candidate frame: the
    one Generate (explode) in the plan belongs to the fields-sized
    weights melt, never to the candidates — a candidate-side melt would
    shuffle |fields|x the pair count at 10^9 candidates."""
    from bran_spark.operators.linking import fs_field_weights, fs_score

    cand = spark.createDataFrame(
        [("p1", True, False, True), ("p2", False, False, False)],
        "pair string, a boolean, b boolean, is_match boolean",
    )
    w = fs_field_weights(cand, ["a", "b"])
    plan = (
        fs_score(cand, w, ["pair"], ["a", "b"], 1, 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate") <= 1  # weights melt only
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # no sort-merge join anywhere: nothing pair-sized is ever re-keyed
    assert "SortMergeJoin" not in plan


def test_session_new_ops_no_python_no_cartesian(spark, testdata_dir):
    """The round-3 session additions stay pure-JVM relational plans: no
    Python UDF stage and no CartesianProduct anywhere (the 1-row
    broadcast crossJoins plan as BroadcastNestedLoopJoin, which is the
    intended scalar-attach shape)."""
    for name in [
        "q183_weak_labels",
        "q185_hard_negatives",
        "q188_sketch_accuracy",
        "q189_assertion_filter",
        "q192_llr_association",
        "q196_roc_auc",
        "q197_burst_detection",
        "q199_ks_drift",
        "q201_quantile_normalize",
        "q202_pathsim",
    ]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "Python" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_hard_negatives_terms_and_positives_are_broadcast(spark, testdata_dir):
    """hard_negatives: the query-terms filter and the positive-set
    exclusion must both be broadcast joins (terms are query-sized, the
    anti-join's build side is the positive ID set) — and the final cut a
    TakeOrdered, never a full sort."""
    plan = _plan(QUERIES["q185_hard_negatives"](spark, testdata_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0
    assert "TakeOrderedAndProject" in plan


def test_llr_and_burst_broadcast_scalar_stats(spark, testdata_dir):
    """llr_association's corpus total and burst_scores' per-type moments
    ride broadcast exchanges — the corpus-scale side never shuffles to
    meet a scalar."""
    for name in ["q192_llr_association", "q197_burst_detection"]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "BroadcastExchange" in plan, name
    # llr specifically: BOTH entity-dimension marginals (n_s, n_o) must
    # be broadcast onto the pair table (the PMI-template regression the
    # r3 review caught). The doc-keyed pair-BUILD join legitimately
    # sort-merges; only the marginal attaches must not.
    plan = _plan(QUERIES["q192_llr_association"](spark, testdata_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_pathsim_self_paths_broadcast_onto_pairs(spark, testdata_dir):
    """pathsim_pairs: the src-dimension self-path table is broadcast
    onto the quadratic pair side for both the id_a and id_b attaches —
    never a shuffle of the pair table."""
    plan = _plan(QUERIES["q202_pathsim"](spark, testdata_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_weak_label_votes_are_scan_projection(spark, testdata_dir):
    """majority_vote over quality_lf_votes is shuffle-free: no Exchange
    of any kind in the whole plan (pure scan projection)."""
    plan = _plan(QUERIES["q183_weak_labels"](spark, testdata_dir))
    assert "Exchange" not in plan


def test_textrank_edges_deduped_before_iterations(spark, testdata_dir):
    """textrank_keywords: no Python stage; the iterate-side input is the
    localCheckpointed edge table (RDDScanExec), so the corpus scan does
    not re-execute per PageRank round."""
    plan = _plan(QUERIES["q193_textrank_keywords"](spark, testdata_dir))
    assert "Python" not in plan
    assert "Scan ExistingRDD" in plan


def test_session6_new_ops_stay_jvm_side(spark, testdata_dir):
    """Session-6 additions are pure JVM relational plans: no Python
    stage anywhere; the single-pass aggregates (experiment readout,
    covariance, governance) never sort-merge; pca_projection is the one
    deliberate Python surface (partition-Gram) and is excluded here."""
    for name in [
        "q216_ab_effect",
        "q217_cuped",
        "q218_transition_matrix",
        "q220_fleiss_kappa",
        "q221_embedding_covariance",
        "q223_acronym_pairs",
        "q224_decayed_support",
        "q226_confident_joint",
        "q228_isotonic_calibration",
        "q229_k_anonymity",
        "q230_pii_scan",
        "q231_modality_mix",
    ]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "Python" not in plan, name
    for name in ["q216_ab_effect", "q217_cuped", "q229_k_anonymity",
                 "q221_embedding_covariance", "q230_pii_scan"]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "SortMergeJoin" not in plan, name


def test_key_skew_profile_takeordered_not_full_sort(spark, testdata_dir):
    """q227: the hottest-k cut must be TakeOrderedAndProject over the
    key counts — a full sort of the key space would not scale."""
    plan = _plan(QUERIES["q227_key_skew_profile"](spark, testdata_dir))
    assert "TakeOrderedAndProject" in plan


def test_geo_grid_join_no_cartesian(spark, testdata_dir):
    """q234: the radius join must be the grid-cell equi-join — a
    CartesianProduct/BroadcastNestedLoopJoin here is the O(N²) range
    join the bucketing exists to kill."""
    plan = _plan(QUERIES["q234_geo_near_pairs"](spark, testdata_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_golden_record_single_aggregate_no_window(spark, testdata_dir):
    """q235: survivorship is ONE entity-keyed aggregate — no Window (a
    per-field row_number formulation would shuffle the feed per field)."""
    plan = _plan(QUERIES["q235_golden_record"](spark, testdata_dir))
    assert "Window" not in plan
    assert "Python" not in plan


def test_quantity_extraction_is_scan_projection(spark, testdata_dir):
    """q236: extraction is scan → generate → project; no join, no
    aggregate-side shuffle beyond the final presentation sort."""
    plan = _plan(QUERIES["q236_quantity_normalize"](spark, testdata_dir))
    assert "Join" not in plan
    assert "Python" not in plan


def test_schema_match_matrix_is_broadcast_not_cartesian(spark, testdata_dir):
    """q258: the m×n column matrix is a broadcast cross of two
    column-DIMENSION stat frames — a CartesianProduct would put the
    corpus-scale melt on both sides of an unpartitioned product."""
    plan = _plan(QUERIES["q258_schema_match"](spark, testdata_dir))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_t_closeness_no_group_value_cross_join(spark, testdata_dir):
    """q253: absent sensitive values are reconstructed arithmetically;
    the plan must have NO cross of QI groups × value domain (only the
    1-row total and the |domain|-row counts broadcast)."""
    plan = _plan(QUERIES["q253_t_closeness"](spark, testdata_dir))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_hearst_is_single_scan_no_join(spark, testdata_dir):
    """q257: four patterns fuse into ONE scan-projection-explode; no
    join anywhere before the support aggregate."""
    plan = _plan(QUERIES["q257_hearst_hypernyms"](spark, testdata_dir))
    assert "Join" not in plan
    assert "Python" not in plan


def test_bgp_match_all_hash_joins(spark, testdata_dir):
    """q262: the 4-pattern BGP compiles to equi-joins (broadcast or
    shuffled hash/SMJ) — never a cartesian, and constants stay
    JVM-side."""
    plan = _plan(QUERIES["q262_bgp_match"](spark, testdata_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_session3_stats_ops_single_aggregate_no_join(spark, testdata_dir):
    """The r5-session-3 experiment readouts are ONE conditional aggregate
    (map-side partial + 1-row reduce): no join of any kind in the plan,
    no Python stage — the 100 TB plan is the same plan."""
    for name in [
        "q274_delta_method",
        "q275_mde_power",
        "q276_diff_in_diff",
        "q277_bayes_ab",
    ]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "Python" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_session3_kg_ops_broadcast_dims_no_cartesian(spark, testdata_dir):
    """KG fusion diagnostics: predicate-sized dimension tables reach the
    corpus-sized side as broadcasts; candidate joins are equi-joins on
    entity-pair keys, never cross products; everything stays JVM-side."""
    for name in [
        "q270_inverse_predicates",
        "q271_entity_summarization",
        "q272_capture_recapture",
        "q278_benford_audit",
        "q279_dp_release",
        "q280_winsorized_effect",
        "q282_texttiling",
    ]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "Python" not in plan, name
        assert "CartesianProduct" not in plan, name
    for name in ["q270_inverse_predicates", "q271_entity_summarization"]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "BroadcastHashJoin" in plan, name


def test_r5_reasoning_lifecycle_ops_stay_jvm_side(spark, testdata_dir):
    """Session-4 reasoning + lifecycle families are pure JVM relational
    plans: no Python stage, no cartesian product anywhere. (q294's canon
    map attach is ALLOWED to broadcast at test scale — the design claim
    is only that it does not REQUIRE it.)"""
    for name in [
        "q292_rdfs_closure",
        "q293_property_path",
        "q294_sameas_rewrite",
        "q295_temporal_coalesce",
        "q296_induce_schema",
        "q297_kg_diff",
        "q298_disjointness_audit",
        "q299_domain_conformance",
    ]:
        plan = _plan(QUERIES[name](spark, testdata_dir))
        assert "Python" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_temporal_coalesce_window_is_key_partitioned(spark, testdata_dir):
    """q295's island windows must be partitioned by the triple key — a
    global (partition-less) window serializes the corpus onto one task
    at 100 TB. Plan format (verified live on 4.1.2): a keyed Window
    line carries THREE bracket lists `[exprs], [partCols], [orderCols]`,
    a global one only two `[exprs], [orderCols]` — so every Window line
    must end with two trailing bracket lists, the first non-empty."""
    import re

    plan = _plan(QUERIES["q295_temporal_coalesce"](spark, testdata_dir))
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "expected at least one Window operator in the plan"
    for ln in win_lines:
        m = re.search(r"\], \[([^\]]+)\], \[[^\]]+\]\s*$", ln)
        assert m and m.group(1).strip(), f"partition-less window: {ln.strip()[:160]}"
