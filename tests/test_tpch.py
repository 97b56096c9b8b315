"""Relational coverage: DuckDB oracle parity + physical-plan checks.

The plan assertions are the scale gate: a filter that doesn't reach
the parquet scan or a dimension join that shuffles instead of
broadcasting is a 100 TB bug even when sf0.001 results match.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE, assert_matches_oracle

TPCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "top_users_by_event_type",
    "running_daily_revenue",
    "customers_no_orders",
    "sales_rollup",
    "q4_order_priority",
    "q10_returned_items",
    "q17_small_quantity_revenue",
    "viewers_set_ops",
    "rich_customers",
    # extended Q2-Q22 shape coverage (plans/tpch2.py)
    "q2_min_cost_supplier",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q12_priority_shipping",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_dominant_suppliers",
    "q21_waiting_supplier",
    "q22_wealthy_inactive",
)


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_oracle_smoke(spark, name):
    assert_matches_oracle(spark, name, SF_SMOKE)


@pytest.mark.parametrize("name", ("q1_pricing_summary", "q5_local_supplier_volume"))
def test_oracle_sf001(spark, name):
    assert_matches_oracle(spark, name, SF_CORRECT)


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_pushdown(spark):
    """Q6's range filters must reach the parquet scan."""
    from big_data_code_spark.plans.registry import QUERIES

    plan = physical_plan(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    # at least the shipdate bounds are pushable
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark):
    """Q6 reads only the 4 referenced columns, not all 11."""
    from big_data_code_spark.plans.registry import QUERIES

    plan = physical_plan(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    for col in ("l_extendedprice", "l_discount", "l_quantity", "l_shipdate"):
        assert col in read_schema
    for col in ("l_orderkey", "l_returnflag", "l_comment", "l_tax"):
        assert col not in read_schema


def test_q5_broadcasts_dims(spark):
    """region/nation/supplier joins must be broadcast, not shuffle."""
    from big_data_code_spark.plans.registry import QUERIES

    plan = physical_plan(QUERIES["q5_local_supplier_volume"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_no_python_udf_in_batch_views(spark):
    """Hot-path views stay JVM-side (no BatchEvalPython / ArrowEval)."""
    from big_data_code_spark.plans.registry import QUERIES

    for name in ("pageviews_over_time", "bounce_rate", "uniques_over_time",
                 "q1_pricing_summary", "q3_shipping_priority"):
        plan = physical_plan(QUERIES[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_wholestage_codegen_q1(spark):
    """After AQE finalizes, Q1 runs inside whole-stage codegen."""
    from big_data_code_spark.plans.registry import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
    df.collect()  # AQE only materializes the final plan on execution
    plan = physical_plan(df)
    assert "isFinalPlan=true" in plan
    assert "*(1)" in plan  # whole-stage-codegen stage marker
    assert "partial_sum" in plan  # map-side combine before the shuffle


# Queries where a BroadcastNestedLoopJoin is the *intended* plan:
# scalar-subquery decorrelation (single-row broadcast cross join) or
# a documented brute-force oracle baseline whose scale path is a
# separate bucketed operator (LSH/IVF).
BNLJ_ALLOWED = {
    "rich_customers",            # scalar avg broadcast onto customers
    "q11_important_parts",       # 1.5×avg threshold, single-row side
    "q22_wealthy_inactive",      # avg-balance scalar subquery
    "ann_cosine_topk",           # brute-force baseline (scale: ann_ivf)
    "ann_cosine_topk_build",     # r11 cold-build twin — the same
                                 # brute-force baseline, cache bypassed
    "value_tier_lookup",         # bounded interval-dim broadcast — the
                                 # intended plan for range lookups
    "mix_balance_uniform",       # single-row min-count scalar broadcast
    "unigram_logprob",           # single-row (N, V) scalar broadcast —
                                 # the LM's normalizing constants
    "perplexity_filter",         # inherits unigram_logprob's (N, V)
                                 # scalar broadcast
    "perplexity_band_prune",     # r10: inherits unigram_logprob's
                                 # (N, V) scalar broadcast under the
                                 # two-pass band rank
    "survival_km_ship_lag",      # r10: one-row n_total (risk-set
                                 # seed) broadcast onto the
                                 # lag-grain rollup
    "bigram_logprob",            # single-row vocabulary-size scalar
                                 # broadcast (same shape as unigram)
    "corpus_drift",              # single-row (sum_master, sum_batch)
                                 # totals broadcast
    "curriculum_order",          # inherits unigram_logprob's (N, V)
                                 # scalar broadcast
    "ann_pq",                    # ADC compressed linear scan: tiny
                                 # query distance tables broadcast
                                 # over 4-byte codes — the intended
                                 # PQ plan (IVF cells prune it in
                                 # production: ann_ivf)
    "tfidf_top_terms",           # r4: single-row doc-count scalar
                                 # broadcast (replaced the driver-side
                                 # docs.count() job — VERDICT r3 #8)
    "boilerplate_ngrams",        # r9: single-row doc-count scalar
                                 # broadcast deriving the DF threshold
                                 # in-plan (same class as tfidf)
    "temperature_mix",           # single-row normalizer Z broadcast
    "ccnet_buckets",             # inherits unigram_logprob's (N, V)
                                 # scalar broadcast
    "ann_recall_eval",           # r4 w2: audits ann_cosine_topk, so
                                 # inherits the brute baseline's BNLJ
    "tfidf_cosine_pairs",        # r4 w3: single-row doc-count scalar
                                 # broadcast for idf
    "bm25_search",               # r4 w3: single-row (n_docs, avgdl)
                                 # corpus-stats broadcast
    "pca_power_iteration",       # r4 w3: one-row iterate vector v
                                 # broadcast per round (Xᵀ(Xv))
    "pagerank_knn_graph",        # r4 w3: single-row node-count
                                 # scalar broadcast per round
    "bpe_train_merges",          # r4 w4: one-row argmax-pair
                                 # broadcast per training round
    "bpe_encode",                # r6: same one-row argmax-pair
                                 # broadcast (shared merge-round
                                 # step with bpe_train_merges)
    "zorder_layout_keys",        # r4 w7: one-row bucketing-bounds
                                 # (table stats) broadcast
    "merge_upsert_orders",       # r5: one-row max(o_orderkey) scalar
                                 # broadcast — insert re-keying so
                                 # inserted keys stay disjoint at
                                 # every SF
    "quality_logit_train",       # r6: one-row weight vector
                                 # broadcast per GD round — the
                                 # recorded pre-checkpoint round-step
                                 # plan
    "dsir_importance_sample",    # r6 w2: single-row (N_raw, N_target)
                                 # LM normalizing-constants broadcast
                                 # (the unigram_logprob shape)
    "doremi_mixture_weights",    # r7 w2: one-row vocab/z/normalizer
                                 # scalars broadcast per EG round —
                                 # the recorded pre-checkpoint
                                 # round-step plan
    "quality_ablation_report",   # r7 w2: one-row doc-count total
                                 # broadcast for the rate columns
    "chunk_bm25_search",         # r7 w2: single-row (n_chunks,
                                 # avgdl) corpus-stats broadcast
                                 # (bm25_search's shape at chunk
                                 # grain)
    "trending_events_decay",     # r7 w2: one-row max-ts scalar
                                 # broadcast (the decay anchor)
    "market_basket_lift",        # r7 w3: one-row order-count total
                                 # broadcast (support/lift divisor)
    "rfm_segments",              # r7 w3: one-row max-date anchor +
                                 # one-row quartile-threshold frame
                                 # broadcasts — the explicit
                                 # replacement for a global NTILE
    "mmr_select",                # r7 w3: one-row anchor vector +
                                 # one-row per-round pick broadcasts
                                 # (recorded pre-checkpoint plans)
    "kcenter_select",            # r7 w3: same greedy-selection
                                 # shape as mmr_select
    "term_pmi_pairs",            # r7 w3: one-row (n_tok, n_pairs)
                                 # corpus-totals broadcast (the
                                 # PMI normalizing constants)
    "sessionize_incremental",    # r7 w4: one-row max-ts broadcast
                                 # (the ingest-window anchor —
                                 # trending_events_decay's shape)
    "lambda_merged_sessions",    # r7 w4: the same one-row max-ts
                                 # anchor broadcast on both layer
                                 # slices
    "dim_truncation_eval",       # r7 w4: two brute-force baseline
                                 # scans (ann_cosine_topk's
                                 # allowlisted query broadcast)
    "psi_value_drift",           # r7 w5: one-row (vmin, vmax,
                                 # period totals) scalar broadcast —
                                 # the corpus_drift totals shape
    "rrf_hybrid_search",         # r7 w5: inherits bm25_search's
                                 # one-row corpus-stats broadcast
                                 # plus the idf doc-count scalar
    "markov_attribution",        # r7 w5: one-row p_base anchor +
                                 # one-row effect-total broadcasts
                                 # over the 4-channel report frame
    "churn_weekly",              # r7 w6: one-row max-week broadcast
                                 # (right-censoring cutoff — the
                                 # trending_events_decay anchor shape)
    "hits_knn_graph",            # r7 w8: one-row max-score broadcast
                                 # per half-round (the
                                 # pagerank_knn_graph scalar shape)
    "ndcg_retrieval_eval",       # r7 w8: audits ann_cosine_topk, so
                                 # inherits the brute baseline's BNLJ
                                 # (ann_recall_eval's shape)
    "ks_source_drift",           # r7 w8: one-row ref-source scalar +
                                 # the value-domain-bounded grid dim
                                 # broadcast (the value_tier_lookup
                                 # bounded-dim shape)
    "chi2_segment_priority",     # r7 w8: one-row grand-total N +
                                 # one-row chi2-total broadcasts
                                 # (the market_basket_lift divisor
                                 # shape)
    "mutual_information_features",  # r7 w8: one-row doc-count N
                                 # broadcast (the tfidf_top_terms
                                 # scalar shape)
    "neyman_allocation",         # r7 w8: one-row allocation-weight
                                 # total broadcast (the
                                 # market_basket_lift divisor shape)
    "revenue_pattern_match",     # r7 w8: one-row query-window
                                 # broadcast onto the calendar-
                                 # bounded window frame (the
                                 # trending_events_decay anchor
                                 # shape)
    "itemcf_eval",               # r7 w8: two one-row report scalars
                                 # (test-pair and hit counts)
                                 # cross-broadcast into the 1-row
                                 # report
    "touch_attribution",         # r7 w8: one-row converting-session
                                 # total broadcast (the share
                                 # divisor - market_basket_lift's
                                 # shape)
    "streaming_psi_monitor",     # r10: one-row (vmin, vmax,
                                 # n_ref_tot) reference scalar
                                 # broadcasts + the 10-row bin-grid
                                 # dim broadcast, in the stream's
                                 # plan and after its sink (the
                                 # psi_value_drift shape)
    "bootstrap_ci_order_value",  # r7 w8: one-row CI frame (the
                                 # 64-replicate rollup) broadcast
                                 # into the 1-row report
    "quality_logit_holdout_eval",  # r8: one-row U-statistic /
                                 # val-stats / train-count scalar
                                 # broadcasts into the 1-row report
                                 # (the itemcf_eval shape)
    "hill_tail_index",           # r8: one-row x_(k+1) threshold
                                 # broadcast onto the k-row top
                                 # slice (the rfm threshold shape)
    "mrr_eval",                  # r9: audits ann_cosine_topk (the
                                 # ndcg_retrieval_eval shape) + a
                                 # one-row query-count broadcast
    "ppr_knn_graph",             # r9: one-row seed-count scalar
                                 # broadcast per round (the
                                 # pagerank_knn_graph shape)
    "kfold_assign",              # r9: one-row corpus-count scalar
                                 # broadcast for the share column
                                 # (the tfidf_top_terms shape)
}


@pytest.fixture(scope="module")
def audited_plans(spark):
    """[(name, physical plans)] for every registry entry, swept once
    for both registry-wide audits. An entry is audited as the plan it
    returns plus every plan it recorded while it ran
    (`cacheutil.recording`): an iterative operator's rounds execute
    and vanish behind checkpoints before the returned frame exists,
    and a stream's stateful plan and per-batch frames run before its
    sink is read. After each entry `release_persisted()` must leave
    the CacheManager empty: every frame an entry caches is
    releasable."""
    from big_data_code_spark import cacheutil
    from big_data_code_spark.plans.registry import QUERIES
    from tests.conftest import cache_manager_is_empty

    spark.catalog.clearCache()  # what earlier test modules cached
    swept = []
    for name, fn in QUERIES.items():
        with cacheutil.recording() as recorded:
            df = fn(spark, SF_SMOKE)
        swept.append((name, [physical_plan(df), *recorded]))
        cacheutil.release_persisted()
        assert cache_manager_is_empty(spark), f"{name} left a cached frame"
    return swept


def test_no_unintended_scale_red_flags_in_any_plan(audited_plans):
    """Sweep EVERY registry plan for operators that do not survive
    100 TB: cartesian products, nested-loop joins outside the
    allowlist, and Python row UDFs anywhere."""

    def flags(name, plan):
        bad = []
        if "CartesianProduct" in plan:
            bad.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            bad.append("nested-loop-join")
        if "BatchEvalPython" in plan:
            bad.append("python-row-udf")
        return bad

    offenders = {}
    for name, plans in audited_plans:
        for i, plan in enumerate(plans):
            bad = flags(name, plan)
            if bad:
                offenders[f"{name}#plan{i}"] = bad
    assert not offenders, offenders


# ---------------------------------------------------------------
# r8: corpus-grain window-sort audit (VERDICT r7 #1). A Window with
# an EMPTY partition spec compiles to Exchange SinglePartition +
# Sort — one task sorts the whole input; a window partitioned only
# by a known low-cardinality column is the same failure split K
# ways. Every such window in a registered plan must either be
# rewritten onto `operators/ranking.two_pass_ranks` or carry a
# bounded-input justification below.

#: Columns whose value domain is bounded (dimension-like) — a
#: window partitioned ONLY by these is corpus-grain unless its
#: input is itself a bounded rollup.
LOW_CARD_PARTITION_COLS = {
    "source",
    "lang",
    "lang_true",
    "lang_pred",
    "o_orderpriority",
    "o_orderstatus",
    "event_type",
    "c_mktsegment",
    "shard",
}

#: query → why its flagged window survives 100× (grain of the
#: window INPUT, which the plan text cannot show). Keep exact: the
#: test also fails on STALE entries so this list can never rot.
WINDOW_SORT_ALLOWED = {
    "pareto_user_concentration": "cum-share window over the 10-row decile rollup",
    "quality_logit_pr_curve": "operating-point sweep over the 101-row bin grid",
    "top_event_transitions": "rank over the |event_type|^2 transition cells",
    "trending_events_decay": "rank over the |event_type|-row decay rollup",
    "cross_source_dedup_matrix": "rank over the |sources|^2 pair matrix",
    "market_basket_lift": "rank over the <=|brands|^2 lift cells",
    "open_orders_over_time": "running net over the calendar-day rollup",
    "survival_km_ship_lag": "KM product over the ship-lag-day rollup (calendar-bounded)",
    "cusum_changepoint": "running-extrema windows over the calendar-day rollup",
    "streaming_cusum_monitor": "running-extrema windows over the streamed calendar-day rollup",
    "revenue_pattern_match": "pattern windows over the calendar-day rollup",
    "lang_id_confusion": "row-share over the |lang|^2 confusion cells",
    "ks_source_drift": "CDF windows over the bounded value grid per source",
    "hourly_anomalies": "trailing window over the calendar-hour rollup",
    "hourly_locf": "LOCF over the calendar-hour rollup",
    "rolling_7d_revenue": "range window over the calendar-day rollup",
    "running_daily_revenue": "running sum over the calendar-day rollup",
    "user_value_windows": "window-breadth demo over the calendar-day rollup",
    "wow_growth": "lag over the calendar-week rollup",
}


def _window_nodes(plan: str) -> list[tuple[str, str]]:
    """(partition_spec, order_spec) per Window node in a physical
    plan string. Window prints 2 bracket groups when one spec is
    empty — ASC/DESC markers disambiguate order-only vs
    partition-only."""
    import re

    nodes = []
    for line in plan.splitlines():
        m = re.search(r"(?:^|\s)Window (\[.*)$", line)
        if not m:
            continue
        groups, depth, cur = [], 0, ""
        for ch in m.group(1):
            if ch == "[":
                depth += 1
            if depth > 0:
                cur += ch
            if ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    cur = ""
        if len(groups) == 3:
            nodes.append((groups[1], groups[2]))
        elif len(groups) == 2:
            import re as _re

            if _re.search(r"(ASC|DESC) NULLS", groups[1]):
                nodes.append(("[]", groups[1]))
            else:
                nodes.append((groups[1], "[]"))
    return nodes


def _window_flags(plan: str) -> list[str]:
    import re

    # r10 (VERDICT r9 #7): the recognizer imports the ranking
    # module's OWN constants — a rename there can no longer silently
    # desync this audit from the plans it certifies; the prefix
    # relationship the recognizer relies on is asserted too.
    from big_data_code_spark.operators.ranking import PID, PID_SMALL

    assert PID_SMALL.startswith(PID)

    bad = []
    for part, order in _window_nodes(plan):
        # two_pass_ranks internals: local windows PARTITION by the
        # slice id or the size-gated PID_SMALL marker (both carry
        # the PID prefix — that is the fix); offsets-frame windows
        # ORDER by it (bounded: <= buckets x groups rows)
        if PID in part or PID in order:
            continue
        if part == "[]":
            bad.append(f"global-window-sort order={order[:60]}")
            continue
        names = {
            re.sub(r"#\d+L?$", "", c.strip())
            for c in part[1:-1].split(",")
            if c.strip()
        }
        if names and names <= LOW_CARD_PARTITION_COLS:
            bad.append(f"lowcard-window part={part[:40]}")
    return bad


def test_no_corpus_grain_window_sorts(audited_plans):
    """Sweep every registry plan (`audited_plans`) for corpus-grain
    window sorts; offenders must be two-pass-rank rewrites or
    justified in WINDOW_SORT_ALLOWED — and the allowlist must stay
    exact."""
    offenders: dict[str, list[str]] = {}
    for name, plans in audited_plans:
        for i, plan in enumerate(plans):
            bad = _window_flags(plan)
            if bad:
                offenders.setdefault(name, []).extend(f"plan{i}:{b}" for b in bad)
    unexplained = {
        k: v for k, v in offenders.items() if k not in WINDOW_SORT_ALLOWED
    }
    assert not unexplained, unexplained
    stale = sorted(set(WINDOW_SORT_ALLOWED) - set(offenders))
    assert not stale, f"allowlist entries no longer flagged: {stale}"
