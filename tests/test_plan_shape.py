"""Physical-plan shape audits: the properties that make queries survive
a 100x scale-up, asserted on the actual executed plans so a regression
(lost pushdown, un-broadcast join, Python in a relational hot path)
fails CI rather than shipping as a silent 10x.
"""

from __future__ import annotations

import re

import pytest

from makerdao_dw_spark.queries import REGISTRY

from .conftest import SF_DIR


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def run(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


# --- materialization-aware plan inspection -------------------------------
#
# session.materialize (round 7) replaced lineage-cutting localCheckpoints
# with eager persist: the consuming plan's leaf is an InMemoryRelation,
# but the CACHED CHILD PLAN still prints inside toString()/explain text.
# Text greps like `"parquet" not in plan` are therefore no longer sound —
# these helpers walk the optimized-logical TREE, which terminates at
# InMemoryRelation leaves (the cached subtree is a field, not a child).

_MATERIALIZED_LEAF_OK = {
    "InMemoryRelation",
    "LocalRelation",
    "OneRowRelation",
    "Range",
}


def leaf_names(df) -> list:
    lv = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [lv.apply(i).nodeName() for i in range(lv.size())]


def live_scans(df) -> int:
    """Live (non-cached) source scans in the optimized plan. A
    materialize() read is an InMemoryRelation leaf, not a scan."""
    return leaf_names(df).count("LogicalRelation")


def assert_reads_materialized_only(df, ctx=""):
    """Every leaf is a materialized intermediate (or a literal/range):
    the expensive upstream executes exactly once, at materialize()."""
    names = leaf_names(df)
    assert "InMemoryRelation" in names, (ctx, names)
    assert set(names) <= _MATERIALIZED_LEAF_OK, (ctx, names)


def walk_logical(df) -> list:
    """(nodeName, one-line simpleString) for every optimized-logical
    node ABOVE the materialization boundary."""
    out = []

    def rec(n):
        out.append((n.nodeName(), n.simpleString(200)))
        ch = n.children()
        for i in range(ch.size()):
            rec(ch.apply(i))

    rec(df._jdf.queryExecution().optimizedPlan())
    return out


def test_filter_pushdown_reaches_scan(spark):
    """B4: the <> predicate must reach the parquet scan as PushedFilters."""
    p = plan_str(run(spark, "filter_project"))
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "Not(EqualTo" in p or "GreaterThan" in p, p


def test_column_pruning_reaches_scan(spark):
    """A projection of few columns must not scan all 16 lineitem columns."""
    df = run(spark, "filter_project")
    p = plan_str(df)
    seg = p[p.index("ReadSchema") :].splitlines()[0]
    # lineitem has 16 columns; the pruned scan reads only what's needed
    assert seg.count(":") <= 8, seg


def test_dim_joins_are_broadcast(spark):
    """B22: dimension-sized sides must broadcast, never shuffle the fact."""
    p = plan_str(run(spark, "multiway_join_revenue"))
    assert "BroadcastHashJoin" in p
    # the only sort-merge-worthy join is fact-to-fact (orders x lineitem)
    assert p.count("SortMergeJoin") <= 1, p


def test_no_python_in_relational_plans(spark):
    """The entire B-plane must stay JVM-side (whole-stage codegen): no
    row-at-a-time or Arrow Python evals in any relational query plan."""
    for name in [
        "flagship_events_funnel",
        "q1_pricing_summary",
        "multiway_join_revenue",
        "window_cumulative",
        "gap_fill_sequence",
        "asof_join_order_events",
        "dedup_exact",
        "dedup_minhash_lsh",
        "text_quality_stats",
    ]:
        p = plan_str(run(spark, name))
        assert "BatchEvalPython" not in p, f"{name} has row-wise Python"
        assert "ArrowEvalPython" not in p, f"{name} has a pandas UDF stage"


def test_whole_stage_codegen_present(spark):
    df = run(spark, "q1_pricing_summary")
    df.collect()  # AQE finalizes the plan only on execution
    p = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' node prefixes mark WholeStageCodegen spans in the final plan
    assert "*(" in p, p.splitlines()[:5]


def test_partial_aggregation(spark):
    """B7/B19: hash aggregates must be two-phase (map-side partial)."""
    p = plan_str(run(spark, "q1_pricing_summary"))
    assert p.count("HashAggregate") >= 2, p


def test_asof_join_single_shuffle(spark):
    """The as-of join must be ONE shuffle (union + window), not a range
    explosion: exactly one Exchange below the window sort."""
    p = plan_str(run(spark, "asof_join_order_events"), "simple")
    body = p.split("AdaptiveSparkPlan")[-1]
    # one hashpartitioning exchange for the window; the final orderBy adds
    # a rangepartitioning exchange. Nothing else.
    assert body.count("Exchange hashpartitioning") == 1, body


def test_gap_fill_no_join(spark):
    """B9: sequence+explode gap-fill must not plan a join at all."""
    p = plan_str(run(spark, "gap_fill_sequence"), "simple")
    assert "Join" not in p, p


@pytest.mark.parametrize(
    "name", ["ann_bruteforce_topk", "dedup_embedding_cosine"]
)
def test_vector_ops_jvm_side(spark, name):
    """Vector math runs as Catalyst higher-order functions, not UDFs."""
    p = plan_str(run(spark, name), "simple")
    assert "EvalPython" not in p, f"{name}: vector math fell back to Python"


@pytest.mark.parametrize(
    "name", ["csv_line_parse", "xml_line_parse", "variant_json_extract", "url_parse_rollup"]
)
def test_line_parsers_jvm_side(spark, name):
    """from_csv/from_xml/parse_json+variant_get/parse_url are JVM
    expressions — the parse must never fall back to a Python eval node."""
    p = plan_str(run(spark, name), "simple")
    assert "EvalPython" not in p, f"{name}: parser fell back to Python"


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q18_large_orders", "weighted_sample_orders"]
)
def test_topk_is_take_ordered(spark, name):
    """LIMIT-over-ORDER BY must compile to TakeOrderedAndProject (per-
    partition heap + driver merge of k rows), never a global sort."""
    p = plan_str(run(spark, name), "simple")
    assert "TakeOrderedAndProject" in p, f"{name}: top-k materialized a full sort"


def test_q3_join_strategy(spark):
    """Q3: the filtered customer segment must broadcast, and all three
    scan-level predicates (segment, order date, ship date) must push
    down to their parquet scans."""
    p = plan_str(run(spark, "q3_shipping_priority"))
    assert "BroadcastHashJoin" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate" in p
    assert "GreaterThan(l_shipdate" in p


def test_weighted_sample_no_shuffle(spark):
    """The Efraimidis-Spirakis sample is one scan + per-partition top-k:
    any Exchange in the plan means the full table shuffled for a 200-row
    answer."""
    p = plan_str(run(spark, "weighted_sample_orders"), "simple")
    assert "Exchange" not in p, p


def test_winsorize_percentiles_broadcast_back(spark):
    """The per-group percentile table is group-cardinality-sized and
    must broadcast onto the fact scan, never shuffle it."""
    p = plan_str(run(spark, "winsorize_values"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dq_foreign_key_is_broadcast_anti_join(spark):
    """Referential integrity must run as a broadcast LEFT ANTI join —
    only parent keys cross the wire."""
    p = plan_str(run(spark, "dq_orders_suite"))
    assert "LeftAnti" in p, p
    assert "BroadcastHashJoin" in p


def test_chunking_is_narrow(spark):
    """Sliding-window chunking must be a pure map: no hash exchange, no
    Python — the only allowed exchanges are the loader's spread and the
    final determinism sort."""
    p = plan_str(run(spark, "chunk_documents"), "simple")
    assert "Exchange hashpartitioning" not in p, p
    assert "EvalPython" not in p


def test_packing_single_hash_exchange(spark):
    """Sequence packing: the (source, bin) aggregation must reuse the
    window's hashpartitioning(source) — exactly one hash exchange in
    the whole plan."""
    p = plan_str(run(spark, "pack_sequences"), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "EvalPython" not in p


def test_q19_disjunction_pushes_per_table_envelopes(spark):
    """Q19 shape: the OR-of-ANDs must stay a residual on an equi hash
    join AND have its single-table implications pushed into BOTH scans
    (brand/size envelope to part, quantity envelope to lineitem)."""
    p = plan_str(run(spark, "q19_disjunctive_predicates"))
    assert "EqualTo(p_brand,Brand#12)" in p, p
    assert "LessThanOrEqual(l_quantity,30.0)" in p, p
    assert "BroadcastNestedLoopJoin" not in p, "disjunction broke the equi-join"


def test_q5_no_fact_shuffle_for_dims(spark):
    """Q5 snowflake: every dimension side broadcasts; at most the
    fact-fact join (orders x lineitem) may sort-merge."""
    p = plan_str(run(spark, "q5_local_supplier_volume"), "simple")
    assert "BroadcastHashJoin" in p
    assert p.count("SortMergeJoin") <= 1, p


def test_q10_topk_is_take_ordered(spark):
    p = plan_str(run(spark, "q10_returned_items"), "simple")
    assert "TakeOrderedAndProject" in p, "top-20 materialized a full sort"


def test_ewma_windows_share_one_exchange(spark):
    """Both EWMA windows partition by user_id: the plan must hash-
    exchange exactly once (the ascending re-window is sort-only)."""
    p = plan_str(run(spark, "ewma_user_values"), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_interpolation_anchors_in_single_window(spark):
    """All four interpolation anchors (prev/next value and date) must
    evaluate in ONE Window node over one sort — opposite-direction
    frames do not justify two window stages."""
    p = plan_str(run(spark, "interpolate_daily_values"), "simple")
    assert p.count("Window [") == 1, p


def test_pii_redaction_is_map_only(spark):
    """PII redaction runs on every corpus byte: it must be one codegen
    map stage — no shuffle, no Python — or it can't ship at 100 TB."""
    p = plan_str(run(spark, "pii_redact_docs"), "simple")
    assert "Exchange hashpartitioning" not in p, p
    assert "EvalPython" not in p


def test_repetition_stats_no_shuffle(spark):
    """Gopher repetition rules are per-doc array math: narrow plan,
    zero hash exchange, no Python."""
    p = plan_str(run(spark, "gopher_repetition_stats"), "simple")
    assert "Exchange hashpartitioning" not in p, p
    assert "EvalPython" not in p


def test_contamination_benchmark_broadcasts(spark):
    """The eval-benchmark n-gram set is tiny by construction: the
    overlap join must broadcast, never sort-merge."""
    p = plan_str(run(spark, "contamination_ngram_overlap"), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_table_diff_is_full_outer(spark):
    p = plan_str(run(spark, "table_diff_snapshot"), "simple")
    assert "FullOuter" in p, p


def test_ivm_branches_push_disjoint_date_filters(spark):
    """IVM: the materialized branch and delta branch must each push
    their date bound into the scan — the delta scan is what keeps the
    daily job O(delta) instead of O(history)."""
    p = plan_str(run(spark, "ivm_incremental_rollup"))
    assert "LessThan(l_shipdate" in p, p
    assert "GreaterThanOrEqual(l_shipdate" in p, p


def test_udaf_is_the_only_python_aggregate(spark):
    """The Gini UDAF is the registry's one sanctioned python aggregate:
    its plan uses the Arrow grouped-agg node, and the values reach it
    already cast to exact decimal."""
    p = plan_str(run(spark, "udaf_gini_order_values"), "simple")
    assert "ArrowAggregatePython" in p or "AggregateInPandas" in p, p


def test_pit_join_keeps_equi_key(spark):
    """The interval residual must not demote the PIT join below a
    keyed join: user_id stays the equi key (hash/merge join), never a
    nested-loop cross product."""
    p = plan_str(run(spark, "pit_join_purchase_state"), "simple")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_q7_nation_pair_prunes_both_dims(spark):
    """Q7: the cross-alias pair disjunction can't push below the joins,
    but each alias's IN(N1,N2) implication must prune BOTH nation
    scans, and every dimension must broadcast."""
    p = plan_str(run(spark, "q7_nation_trade_flows"))
    assert p.count("In(n_name, [NATION_1,NATION_2])") >= 2, p
    assert "SortMergeJoin" not in p or p.count("SortMergeJoin") <= 1, p


@pytest.mark.parametrize("name", ["cusum_changepoints", "rolling_zscore_anomalies"])
def test_timeseries_detectors_two_exchanges(spark, name):
    """CUSUM and the rolling z-score: exactly TWO hash exchanges — the
    daily pre-aggregation on the finer (user, day) key, then the
    user-only re-partition for the window passes, which carries only
    |user-days| pre-aggregated rows (the fact-sized shuffle happened
    once). All window passes (both CUSUM windows; all three z-score
    moments) must share that second exchange, and nothing is Python."""
    p = plan_str(run(spark, name), "simple")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "EvalPython" not in p


def test_q8_single_fact_shuffle_single_agg_pass(spark):
    """Q8 snowflake: all 6 dimension arms (incl. nation twice) must
    broadcast — the only SortMergeJoin allowed is lineitem x orders —
    and numerator + denominator come from ONE aggregation (a single
    partial/final HashAggregate pair over the spine, not two scans)."""
    p = plan_str(run(spark, "q8_market_share"), "simple")
    assert p.count("SortMergeJoin") <= 1, p
    assert p.count("BroadcastHashJoin") >= 5, p


def test_q9_dim_filter_stays_above_broadcast(spark):
    """Q9: the p_name LIKE filter must prune the part dimension BEFORE
    it broadcasts (pushed to the part scan), and supplier/nation must
    broadcast — one fact-fact shuffle at most."""
    p = plan_str(run(spark, "q9_product_profit"))
    assert "StringContains(p_name,red)" in p, p
    assert p.count("SortMergeJoin") <= 1, p


def test_embedding_metadata_vectors_never_shuffle(spark):
    """The embeddings x documents rollup: metadata broadcasts and the
    64-float vectors fold to scalars map-side — no hash exchange may
    carry the embedding column."""
    p = plan_str(run(spark, "embedding_metadata_join_stats"))
    assert "BroadcastHashJoin" in p, p
    # Formatted mode prints each operator as a block: "(N) Exchange"
    # followed by "Input [k]: [cols...]" and "Arguments: hashpartitioning(...)".
    # The Input line is what the exchange actually carries.
    exchange_blocks = [
        b
        for b in p.split("\n\n")
        if b.lstrip().startswith("(")
        and "Exchange" in b.splitlines()[0]
        and "hashpartitioning" in b
    ]
    assert exchange_blocks, p
    for b in exchange_blocks:
        input_lines = [ln for ln in b.splitlines() if ln.startswith("Input")]
        assert input_lines, b
        for ln in input_lines:
            assert "embedding" not in ln, b


def test_text_normalize_is_map_only_codegen(spark):
    """The normalization battery is scan -> project -> sort: no hash
    exchange, no Python, one whole-stage codegen span over the
    string ops."""
    df = run(spark, "text_normalize_battery")
    df.collect()  # AQE finalizes the plan only on execution
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p, p
    assert "EvalPython" not in p
    assert "*(" in p, p.splitlines()[:5]


def test_q6_is_pure_scan_aggregate(spark):
    """Q6: every predicate reaches the parquet scan and the scalar agg
    needs no hash exchange at all — the I/O lower-bound probe."""
    df = run(spark, "q6_forecast_revenue")
    p = plan_str(df)
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in p, p
    assert "LessThan(l_quantity,24" in p, p
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in ep, ep
    assert "EvalPython" not in ep


@pytest.mark.parametrize("name", ["q11_important_parts", "q15_top_supplier"])
def test_scalar_subquery_reuses_aggregation_exchange(spark, name):
    """Q11/Q15: the view is consumed twice (rows + its global MAX/SUM)
    but the fact must be scanned and aggregated ONCE — AQE reuses the
    per-key aggregation shuffle for the scalar side."""
    df = run(spark, name)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in ep, ep


def test_q17_two_pass_all_broadcast(spark):
    """Q17: brand filter prunes part before broadcast; the per-part
    aggregate broadcasts back — no shuffle join anywhere."""
    p = plan_str(run(spark, "q17_small_quantity_revenue"))
    assert "EqualTo(p_brand,Brand#4)" in p, p
    assert "SortMergeJoin" not in p, p


def test_q21_agg_and_windows_reuse_join_partitioning(spark):
    """Q21 at-scale regime (SMJ forced): the (order, supplier) max
    aggregate AND both per-order windows must run on the join's
    hash(orderkey) partitioning — the ONLY hash exchanges in the final
    plan are the two join inputs plus the tiny s_name rollup. A plan
    that re-shuffles for the agg or the windows shows 5."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = run(spark, "q21_waiting_suppliers")
        df.collect()
        ep = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = ep.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final
    assert final.count("Exchange hashpartitioning") == 3, final


def test_split_assignment_is_map_side_plus_one_rollup(spark):
    """Split assignment: the bucket hash is a JVM expression (no
    Python) and the only hash exchange is the (source, split) rollup."""
    p = plan_str(run(spark, "split_train_val_test"), "simple")
    assert "EvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The SQL LATERAL + LIMIT must become a grouped top-k
    (WindowGroupLimit) — never a nested-loop rescan per outer row."""
    p = plan_str(run(spark, "lateral_topk_customers"), "simple")
    assert "WindowGroupLimit" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_curation_gate_filters_reach_scan(spark):
    """The curation gate's lang and length predicates must push to the
    documents scan so the dedup exchange only carries survivors."""
    p = plan_str(run(spark, "curation_gate_pipeline"))
    assert "EqualTo(lang,en)" in p, p
    assert "GreaterThanOrEqual(n_chars,100)" in p, p
    assert "LessThanOrEqual(n_chars,450)" in p, p


def test_rare_token_corpus_scanned_once(spark):
    """Rarity scoring: the vocabulary aggregate and the per-doc probe
    both consume the same per-(doc, token) count shuffle — AQE must
    reuse it (one tokenize pass over the corpus, not two) and the
    vocabulary must broadcast back onto it."""
    df = run(spark, "rare_token_ratio")
    p = plan_str(df, "simple")
    assert "BroadcastHashJoin" in p, p
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in ep, ep


def test_recursive_cte_is_engine_owned_loop(spark):
    """The recursive CTE must plan as Spark's native UnionLoop (engine-
    owned iteration) — not a Python-driven loop or an unrolled union.

    r12: the registered query executes the loop in-function (stage())
    so the session confs it needs can be restored before returning —
    the RETURNED frame is the staged parquet scan, so the UnionLoop pin
    moves to the loop statement itself, built exactly as the query
    builds it."""
    from makerdao_dw_spark.queries.modern2 import (
        _REACH_EDGES_SQL,
        _REACH_LOOP_SQL,
    )
    from makerdao_dw_spark.session import load_table

    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView(
        "_rec_lineitem_plan_test"
    )
    spark.sql(
        _REACH_EDGES_SQL.format(lineitem="_rec_lineitem_plan_test")
    ).createOrReplaceTempView("_rec_edges_plan_test")
    loop = spark.sql(_REACH_LOOP_SQL.format(edges="_rec_edges_plan_test"))
    p = plan_str(loop, "simple")
    assert "UnionLoop" in p, p
    assert "EvalPython" not in p
    # and the registered query's returned frame stays Python-free too
    rp = plan_str(run(spark, "recursive_cte_reachability"), "simple")
    assert "EvalPython" not in rp


def test_try_battery_is_map_only(spark):
    """try_divide/try_cast/try_element_at are scan-level expressions:
    no hash exchange, no Python anywhere."""
    p = plan_str(run(spark, "try_arithmetic_battery"), "simple")
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "EvalPython" not in p


def test_inverted_index_shuffles_pairs_not_lists(spark):
    """Inverted index: two key exchanges (pair-dedup, then token) and
    the posting arrays only materialize AFTER the token exchange —
    no Python anywhere."""
    p = plan_str(run(spark, "inverted_index_postings"), "simple")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "EvalPython" not in p


def test_map_battery_lambdas_stay_jvm_side(spark):
    """map_filter/transform_values/aggregate lambdas must compile to
    JVM higher-order functions — EvalPython in this plan means the
    map toolkit silently fell back to Python."""
    p = plan_str(run(spark, "map_functions_battery"), "simple")
    assert "EvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 2, p


def test_tfidf_reuses_term_exchange(spark):
    """text_tfidf_topterms must tokenize ONCE: the docfreq branch and the
    scoring join consume the same (doc_id, term) exchange, which AQE
    dedupes at runtime into a ReusedExchange/reused stage. A regression
    (e.g. countDistinct re-introducing its own pre-aggregation, or column
    pruning splitting the subtrees) doubles the scan+tokenize work."""
    df = run(spark, "text_tfidf_topterms")
    df.collect()  # AQE reuse appears in the FINAL adaptive plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p or "ReusedQueryStage" in p, p


def test_vocab_topk_is_takeordered_and_broadcast(spark):
    """vocab_oov_coverage: the top-K vocabulary must come from
    TakeOrderedAndProject (distributed partial top-K, never a global
    window sort) and must BROADCAST to the per-token membership join."""
    p = plan_str(run(spark, "vocab_oov_coverage"))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "WindowExec" not in p


def test_skyline_sweeps_distinct_prices_not_facts(spark):
    """skyline_orders: the dominance sweep must run its global window on
    the per-distinct-price aggregate (one HashAggregate below the
    Window), never on the fact table, and join back as a broadcast."""
    p = plan_str(run(spark, "skyline_orders"))
    assert "Window" in p
    # the window's input is the per-price aggregate — the aggregate node
    # must appear, and the O(N^2) shape (nested-loop join) must not
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_srp_lsh_buckets_are_computed_map_side(spark):
    """ann_srp_lsh: bucket assignment is codegen'd map-side arithmetic —
    no Python eval — and the candidate join is an equi hash/merge join on
    the bucket key, never a nested-loop over all pairs."""
    p = plan_str(run(spark, "ann_srp_lsh"))
    assert "EvalPython" not in p and "ArrowEval" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_corpus_pipeline_is_one_scan_two_shuffles(spark):
    """corpus_end_to_end_pipeline: normalize/gate/split pipeline into the
    scan (narrow), so the whole flow is ONE FileScan and exactly TWO hash
    exchanges (dedup window key + final rollup) at any corpus size."""
    df = run(spark, "corpus_end_to_end_pipeline")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 2, p


def test_lm_bigram_tokenizes_once(spark):
    """lm_bigram_doc_score: the scoring probe and the model chain both
    hang off the per-(doc,w1,w2) occurrence aggregate, which round 6
    MATERIALIZES (eager localCheckpoint — AQE's ReusedExchange cannot
    dedupe these subtrees once the model broadcasts, measured 24->13 s
    at sf1). The plan must therefore contain NO documents scan and NO
    tokenize/explode at all — every consumer reads the checkpointed
    ExistingRDD."""
    df = run(spark, "lm_bigram_doc_score")
    assert_reads_materialized_only(df, "lm_bigram")
    # the expensive stages live only BELOW the materialization: no live
    # scan, no explode/generate in the consuming plan
    assert not any(n == "Generate" for n, _ in walk_logical(df))


def test_cms_tokenizes_once(spark):
    """cms_heavy_hitters: the (token, n) vocab aggregate feeds THREE
    consumers (hashed probe rows, cells, top-20) and is materialized
    with an eager localCheckpoint (same measured rule as lm_bigram:
    tiny aggregate vs corpus token stream). The consuming plan must
    read the checkpointed ExistingRDD only — no documents scan, no
    tokenize/explode replay per consumer."""
    df = run(spark, "cms_heavy_hitters")
    assert_reads_materialized_only(df, "cms")
    # the tokenize explode must not appear above the materialization;
    # the only Generates allowed are the d-way sequence explodes
    assert not any("split(" in x for _, x in walk_logical(df))


def test_simhash_hamming_single_signature_pass(spark):
    """dedup_simhash_hamming: both 16-bit halves explode into one
    (half, k) bucket stream, so the self-join's two sides are the SAME
    exchange — ReusedExchange at runtime; the md5-per-token signature
    pipeline must not evaluate per join side."""
    df = run(spark, "dedup_simhash_hamming")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p or "ReusedQueryStage" in p or "reused" in p, p[:3000]
    # and the signature must never leak into a pushed Filter: a nullable
    # join key makes InferFilters add isnotnull(<md5-per-token fold>),
    # re-evaluated single-threaded below the spread repartition (fixed
    # round 6 by the coalesce nullability pin — 2.45 s -> 1.6 s sf0.1)
    assert not _heavy_pushed_filters(df)


def test_prefix_filter_single_tokenize(spark):
    """dedup_prefix_filter_jaccard: every consumer of the distinct
    (doc_id, shingle) aggregate — df counts, ranked prefix, both legs
    of the overlap self-join, set sizes — must read the token table
    built exactly once, never re-run the explode+distinct. Round 9
    moved the reuse guarantee from a persist (InMemoryRelation leaves)
    to session.stage()'s parquet lineage cut, which additionally frees
    the upstream shuffle files mid-query (the sf100 disk-ceiling fix):
    the final plan's ONLY leaves are the staged token/candidate reads —
    the documents scan and the tokenize explode appear nowhere."""
    df = run(spark, "dedup_prefix_filter_jaccard")
    df.collect()
    nodes = walk_logical(df)
    leaves = [s for n, s in nodes if n == "LogicalRelation"]
    # staged toks read >= 4 times (df counts, both overlap legs, sizes)
    # + the staged candidate pairs once
    assert len(leaves) >= 5, leaves
    allowed = {"doc_id", "token", "doc_a", "doc_b"}
    for s in leaves:
        # LogicalRelation simpleString renders "Relation ... [col#1,col#2]
        # parquet" — extract the bracketed output list with a guarded
        # regex (ADVICE r9: a bare split('[',1)[1] raises IndexError,
        # not a readable assertion, if a Spark version renders brackets
        # differently)
        m = re.search(r"\[([^\]]*)\]", s)
        assert m, f"no bracketed column list in LogicalRelation render: {s!r}"
        cols = {c.split("#")[0].strip() for c in m.group(1).split(",")}
        assert cols <= allowed, (cols, s)  # never the raw documents table
    # the tokenize explode must not appear above the staging boundary
    assert not any("split(" in x for _, x in nodes)


def test_leakage_audit_no_heavy_predicate_below_spread(spark):
    """split_leakage_audit: a plain explode() infers size(g2)>0, which
    collapses through the projections and is PUSHED below the spread
    repartition — the entire bigram transform then re-evaluates inside
    the single-file scan task (measured 4.7 s single-threaded vs 0.8 s
    spread at sf0.1). The explode_outer + isNotNull formulation must
    keep every transform(...) lambda ABOVE the exchange: no Filter in
    the optimized plan may contain the bigram transform."""
    df = run(spark, "split_leakage_audit")
    assert not _heavy_pushed_filters(df)


def _heavy_pushed_filters(df) -> list[str]:
    """Optimized-plan Filter lines carrying a higher-order lambda chain
    — the round-6 inferred-predicate hazard (NOTES): such a Filter
    below the spread repartition re-evaluates the whole expression
    single-threaded in the one-file scan task. lstrip must strip the
    ':'-prefixed tree-drawing chars too: Filter nodes in a LEFT join
    subtree render as ':  +- Filter (...)' and a whitespace-only
    lstrip never matches them. Matches both "transform(" and
    "lambdafunction" spellings of the hazard."""
    p = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        ln
        for ln in p.splitlines()
        if ln.lstrip(" +-:").startswith("Filter")
        and ("lambdafunction" in ln or "transform(" in ln)
    ]


def test_dup_span_single_gram_evaluation(spark):
    """dup_span_coverage: the cross-doc-frequency gate is a min!=max
    window on the gram key, NOT a countDistinct aggregate + join back
    (countDistinct's two-phase expand keys on (ghash, doc_id) and
    forces a second evaluation of the md5-gram pipeline). The
    optimized plan must read parquet at most twice (slim docs rollup +
    one gram pipeline) and push no lambda-laden Filter."""
    df = run(spark, "dup_span_coverage")
    o = df._jdf.queryExecution().optimizedPlan().toString()
    assert o.lower().count("parquet") <= 2, o[:3000]
    assert not _heavy_pushed_filters(df)


def test_novelty_curve_reuses_gram_exchange(spark):
    """ngram_novelty_curve: the min-doc-per-gram aggregate and the
    join probe both hash on ghash — one exchange, reused at runtime."""
    df = run(spark, "ngram_novelty_curve")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p or "ReusedQueryStage" in p or "reused" in p, p[:3000]
    assert not _heavy_pushed_filters(df)


def test_lsh_sweep_single_signature_pass(spark):
    """lsh_parameter_sweep: signatures are materialized ONCE via eager
    localCheckpoint; the consuming plan (3 band subtrees + both sides
    of the est-jaccard join) must read the checkpointed ExistingRDD —
    no parquet scan, no re-shingling (the minhash base-hash marker
    conv(substring(md5 must not appear; band md5s are expected)."""
    df = run(spark, "lsh_parameter_sweep")
    assert_reads_materialized_only(df, "lsh_sweep")
    assert not any(
        "conv(substring(md5" in x.replace(" ", "") for _, x in walk_logical(df)
    )


def test_wave10_token_queries_plan_hygiene(spark):
    """zipf_tail_fit: ONE documents scan (one tokenize pass feeding the
    count table). source_token_kl: the count table is eager-local-
    checkpointed (cms pattern) because BOTH the broadcast corpus total
    and the window pass consume it — the consuming plan must read the
    ExistingRDD and re-tokenize nothing. Neither may push a
    lambda-laden Filter (round-6 inferred-predicate hazard — both use
    explode_outer + isNotNull for exactly this)."""
    df = run(spark, "zipf_tail_fit")
    o = df._jdf.queryExecution().optimizedPlan().toString()
    assert o.lower().count("parquet") <= 1, o[:3000]
    assert not _heavy_pushed_filters(df)

    df = run(spark, "source_token_kl")
    # the materialized count table is the only leaf: no re-tokenize
    assert_reads_materialized_only(df, "source_token_kl")
    assert not _heavy_pushed_filters(df)


def test_pca_projection_is_map_side(spark):
    """embedding_pca_power_iteration: after training (driver holds only
    O(dim) literals), the RETURNED plan is scan -> map-side fold ->
    one hash aggregate — no join, no window, exactly one parquet scan.
    The broadcast-literal (mu, v) arrays must appear as plain literals,
    not a join against a centroid table."""
    df = run(spark, "embedding_pca_power_iteration")
    o = df._jdf.queryExecution().optimizedPlan().toString()
    assert o.lower().count("parquet") == 1, o[:3000]
    assert "Join" not in o, o[:3000]
    assert not _heavy_pushed_filters(df)


def test_wave11_plan_hygiene(spark):
    """target_encoding_loo: the checkpointed category-stats table feeds
    both broadcast sides, so the plan holds exactly ONE orders scan
    (the encode pass — with the key-sample filter pushed) and two
    broadcast joins, never a shuffle join. ks_feature_drift: the
    distinct-value table is checkpointed — ONE documents scan.
    feature_hash_vectorize: one scan, no lambda-laden pushed Filter."""
    df = run(spark, "target_encoding_loo")
    assert live_scans(df) == 1, leaf_names(df)
    p = plan_str(df)
    assert p.count("BroadcastHashJoin") == 2, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]

    # ks_feature_drift: the checkpointed distinct-value table absorbs
    # the (single) corpus scan — the consuming plan reads only the
    # LogicalRDD. feature_hash_vectorize: one live scan.
    df = run(spark, "ks_feature_drift")
    assert_reads_materialized_only(df, "ks_feature_drift")
    assert not _heavy_pushed_filters(df)

    df = run(spark, "feature_hash_vectorize")
    assert live_scans(df) == 1, leaf_names(df)
    assert not _heavy_pushed_filters(df)


def test_pq_adc_plan_shape(spark):
    """ann_pq_adc: after the driver-side codebook training, the scoring
    plan is probe-broadcast x candidate scan — the probe side must
    BROADCAST (never shuffle the candidate table for 10 probes), the
    ADC arithmetic and the exact-rescore fold stay JVM-side, and no
    lambda-laden Filter is pushed below the spread repartition."""
    df = run(spark, "ann_pq_adc")
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]
    assert not _heavy_pushed_filters(df)


def test_wave13_plan_hygiene(spark):
    """Compliance wave: k_anonymity_audit is two chained integer
    aggregations over ONE scan; dp_noised_histogram is one scan +
    map-side noise; benford_first_digit checkpoints its <= 9-row digit
    table (the single live orders scan is absorbed into the
    LogicalRDD, so scan-level assertions end there)."""
    for name, max_scans in (
        ("k_anonymity_audit", 1),
        ("dp_noised_histogram", 1),
    ):
        df = run(spark, name)
        o = df._jdf.queryExecution().optimizedPlan().toString()
        assert o.lower().count("parquet") <= max_scans, (name, o[:3000])

    df = run(spark, "benford_first_digit")
    assert_reads_materialized_only(df, "benford_first_digit")


def test_wave14_plan_hygiene(spark):
    """retrieval_eval_ndcg: probe side broadcasts onto the candidate
    scan (never a shuffle join for a probe sample); the cosine folds
    stay JVM-side. session_rfm_features: the per-user rollup is
    checkpointed (broadcast anchor + quantile windows both consume it)
    — the consuming plan reads the LogicalRDD, no second events scan."""
    df = run(spark, "retrieval_eval_ndcg")
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]

    df = run(spark, "session_rfm_features")
    assert_reads_materialized_only(df, "session_rfm_features")


def test_wave15_plan_hygiene(spark):
    """Experiments wave: kaplan_meier_churn checkpoints its per-user
    span rollup (broadcast censor anchor + the curve windows both
    consume it) — the consuming plan reads only the LogicalRDD;
    ab_conversion_ztest is one events scan chained into two
    aggregations; market_basket_lift's pair self-join must hash-join on
    the order key with the basket table checkpointed once (no parquet
    re-scan per join side) and the basket total must broadcast."""
    df = run(spark, "kaplan_meier_churn")
    assert_reads_materialized_only(df, "kaplan_meier_churn")
    assert not _heavy_pushed_filters(df)

    df = run(spark, "ab_conversion_ztest")
    assert live_scans(df) == 1, leaf_names(df)

    df = run(spark, "market_basket_lift")
    assert_reads_materialized_only(df, "market_basket_lift")
    p = plan_str(df)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]


def test_wave16_plan_hygiene(spark):
    """Evaluation wave: classifier_eval_f1 checkpoints the probe-sized
    prediction table (two confusion rollups consume it) — the
    consuming plan reads only the LogicalRDD; cohens_kappa_labelers
    checkpoints its <= 9-row cell table (total/agree/marginal
    consumers, one live documents scan absorbed into the LogicalRDD)
    and must not push its word-count lambda into a scan Filter;
    rrf_fusion_ranking broadcasts the probe panel onto ONE candidate
    scan — both rank signals are windows over the same pair table, so
    no second embeddings scan and no sort-merge join."""
    df = run(spark, "classifier_eval_f1")
    assert_reads_materialized_only(df, "classifier_eval_f1")

    df = run(spark, "cohens_kappa_labelers")
    assert_reads_materialized_only(df, "cohens_kappa_labelers")
    assert not _heavy_pushed_filters(df)

    df = run(spark, "rrf_fusion_ranking")
    assert live_scans(df) == 1, leaf_names(df)
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]
    # NOTE: the zero-norm guard (dot(embedding, embedding) > 0) IS a
    # lambda Filter at the candidate scan — the documented
    # cheap-per-row exception shared with the ann_* queries (NOTES
    # round-6 hazard audit), so no _heavy_pushed_filters assert here.


def test_wave17_plan_hygiene(spark):
    """Experiments wave 2: bootstrap_blb_ci fans out B replicates
    map-side (explode of a literal sequence — no join, no second
    scan) and shuffles only on (subsample, replicate);
    ab_uplift_by_segment and ab_srm_check are one events scan chained
    into rollups. All three read parquet exactly once."""
    for name in ("bootstrap_blb_ci", "ab_uplift_by_segment", "ab_srm_check"):
        df = run(spark, name)
        o = df._jdf.queryExecution().optimizedPlan().toString()
        assert o.lower().count("parquet") == 1, (name, o[:3000])
        assert not _heavy_pushed_filters(df), name
    p = plan_str(run(spark, "bootstrap_blb_ci"))
    assert "Join" not in p, p[:2000]


def test_wave18_plan_hygiene(spark):
    """Profiling wave: table_profile_summary computes every column's
    aggregates in ONE scan (the long form is a stack over a 1-row
    aggregate — no per-column scans); mad_robust_outliers checkpoints
    both median tables (the consuming plan reads LogicalRDDs + one
    live events scan per deviation pass); conformal's model and radius
    broadcast onto the split scans — no sort-merge joins anywhere."""
    df = run(spark, "table_profile_summary")
    o = df._jdf.queryExecution().optimizedPlan().toString()
    assert o.lower().count("parquet") == 1, o[:3000]

    df = run(spark, "mad_robust_outliers")
    p = plan_str(df)
    assert "SortMergeJoin" not in p, p[:2000]
    assert "BroadcastHashJoin" in p, p[:2000]

    df = run(spark, "conformal_interval_calibration")
    p = plan_str(df)
    assert "SortMergeJoin" not in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]


def test_wave19_plan_hygiene(spark):
    """Experiments wave 3: cuped_variance_reduction checkpoints the
    per-user (x, y, arm) rollup — corpus-midpoint bounds, global
    moments (theta), and per-arm moments all consume it, so the
    consuming plan reads the LogicalRDD and the theta/bounds sides
    broadcast; ab_power_mde is one events scan into two chained
    aggregations. No sort-merge joins."""
    df = run(spark, "cuped_variance_reduction")
    assert_reads_materialized_only(df, "cuped_variance_reduction")
    p = plan_str(df)
    assert "SortMergeJoin" not in p, p[:2000]

    df = run(spark, "ab_power_mde")
    assert live_scans(df) == 1, leaf_names(df)


def test_wave20_plan_hygiene(spark):
    """Insights wave: pmi_collocations' token totals are broadcast
    1-row aggregates and no lambda-laden Filter pushes below the
    spread exchange; user_interarrival_burstiness is one events scan
    into a window + rollup; label_propagation_communities materializes
    its result (the operator's labels joined to the community sizes) —
    the consuming plan reads InMemoryRelation leaves only."""
    df = run(spark, "pmi_collocations")
    assert not _heavy_pushed_filters(df)

    df = run(spark, "user_interarrival_burstiness")
    assert live_scans(df) == 1, leaf_names(df)

    df = run(spark, "label_propagation_communities")
    assert_reads_materialized_only(df, "label_propagation_communities")
    assert not _heavy_pushed_filters(df)


def test_wave21_plan_hygiene(spark):
    """Maintenance wave: ivm_join_delta evaluates ONE tagged join into
    ONE hash aggregate (r11: the full-recompute SUM moved into the same
    aggregate as the ivm terms, so the join is single-consumer — no
    materialization, no self-join of the two 5-row aggregates; the plan
    reads the two table scans exactly once each);
    zorder_morton_audit is one scan with broadcast bounds into an
    8-bit-cardinality rollup; watermark_lateness_audit is one scan
    into a per-type window + rollup."""
    df = run(spark, "ivm_join_delta")
    # exactly one scan of each side, no cached intermediate needed
    assert sorted(leaf_names(df)) == ["LogicalRelation", "LogicalRelation"], leaf_names(df)
    p = plan_str(df)
    # the old shape joined the ivm aggregate to the full-recompute
    # aggregate; the merged-aggregate plan has only the tagged
    # join itself (one numbered join operator in the formatted plan)
    import re

    join_ops = re.findall(r"\(\d+\) [A-Za-z]*Join", p)
    assert len(join_ops) == 1, (join_ops, p[:2000])

    df = run(spark, "zorder_morton_audit")
    # round 7: the 2-column projection is materialized once; both the
    # bounds aggregate and the bucketizer read the cache — no live scan
    assert_reads_materialized_only(df, "zorder_morton_audit")
    p = plan_str(df)
    assert "SortMergeJoin" not in p, p[:2000]

    # round 7: the sharded running max reads the pruned events scan
    # twice (per-shard maxima subtree + the windowed pass) — the tiny
    # map-combined rollup is cheaper than caching a corpus-sized frame,
    # and the shard offsets must broadcast, never shuffle the events
    df = run(spark, "watermark_lateness_audit")
    assert live_scans(df) == 2, leaf_names(df)
    p = plan_str(df)
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]


def test_wave22_plan_hygiene(spark):
    """Time-series modeling wave: holt_linear_forecast's distributed
    part is ONE events scan into the daily rollup — the sequential
    fold lives in a single aggregate() expression (no Python, no
    join); theil_sen_trend checkpoints the calendar-bounded daily
    series (pair join reads the LogicalRDD on both sides) and the
    slope/intercept summaries broadcast."""
    df = run(spark, "holt_linear_forecast")
    assert live_scans(df) == 1, leaf_names(df)
    p = plan_str(df)
    assert "EvalPython" not in p, p[:2000]
    assert "Join" not in p, p[:2000]

    df = run(spark, "theil_sen_trend")
    # the pair join reads the materialized daily series on both sides
    assert "InMemoryRelation" in leaf_names(df), leaf_names(df)
    p = plan_str(df)
    assert "SortMergeJoin" not in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]


def test_wave23_plan_hygiene(spark):
    """Training wave 23: curation_threshold_grid is one documents scan
    cross-joined with the broadcast 9-row literal grid (no second
    scan, no lambda Filter below the spread exchange);
    skipgram_negative_samples checkpoints the vocabulary (rank joins,
    the center panel, and the draw modulus all consume it) and pushes
    no tokenizer lambda into a scan Filter."""
    df = run(spark, "curation_threshold_grid")
    o = df._jdf.queryExecution().optimizedPlan().toString()
    assert o.lower().count("parquet") == 1, o[:3000]
    assert not _heavy_pushed_filters(df)
    p = plan_str(df)
    assert "SortMergeJoin" not in p, p[:2000]

    df = run(spark, "skipgram_negative_samples")
    assert not _heavy_pushed_filters(df)


def test_whale_join_exchanges_carry_salt(spark):
    """whale_key_salted_join: the join must be a shuffled hash join
    whose exchanges hash on (c_custkey, _salt) — the salt column in the
    partitioning IS the skew fix (without it the whale key's 90% of
    rows land in one reducer). Broadcast would make the demo vacuous:
    assert it is absent from the join."""
    p = plan_str(run(spark, "whale_key_salted_join"))
    assert "ShuffledHashJoin" in p, p
    import re

    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    salted = [e for e in exchanges if "c_custkey" in e and "_salt" in e]
    assert len(salted) >= 2, exchanges  # both join sides
    assert "BroadcastHashJoin" not in p.split("ShuffledHashJoin")[0], p
