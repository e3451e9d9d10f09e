"""Physical-plan regression guards: the scale posture of SURVEY §6 as
assertions. If a future change silently turns a broadcast into a
shuffle, pulls a Python UDF into a hot path, or loses a pushed filter,
these fail before any benchmark does."""

from __future__ import annotations

import pytest

from dbeam_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


_PLANS: dict[str, str] = {}


def plan_of(spark, name: str) -> str:
    """Executed plan of a registered query, planned once per test
    session: the registry sweep reuses the named tests' plans."""
    if name not in _PLANS:
        df = QUERIES[name](spark, SF_DIR)
        _PLANS[name] = df._jdf.queryExecution().executedPlan().toString()
    return _PLANS[name]


def test_q5_star_join_broadcasts_all_dims(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    # every dim (region/nation/customer/supplier) ships as a broadcast;
    # the only sort-merge/shuffled-hash allowed is the fact-fact join
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_scan_prunes_and_pushes(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read the join keys it doesn't use
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_no_python_udf_in_relational_suite(spark):
    # §2.B queries must stay entirely JVM-side (no Arrow/Python eval)
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q18_large_orders",
        "rollup_sales",
        "percentile_prices",
        "rfm_segments",
        "market_basket_types",
    ):
        plan = plan_of(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_interval_join_avoids_nested_loop(spark):
    plan = plan_of(spark, "interval_join_events")
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_exact_single_exchange(spark):
    plan = plan_of(spark, "dedup_exact")
    # scan → partial agg → ONE exchange → final agg (plus the sort's
    # range exchange if present); never more than two
    assert plan.count("Exchange") <= 2


def _unpartitioned_windows(plan: str) -> list[str]:
    # a partitioned Window line renders three bracket groups
    # (`Window [exprs], [partSpec], [orderSpec]`); a global one only
    # two — the single-task sort Spark warns about with
    # `WindowExec: No Partition Defined`.
    bad = []
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-: ")
        if not stripped.startswith("Window "):
            continue
        if stripped.count("], [") >= 2:
            continue  # [exprs], [partSpec], [orderSpec] — partitioned
        # two bracket groups: either partitioned-unordered (fine: the
        # second group is a partition spec) or global-ordered (bad:
        # the second group is an order spec with ASC/DESC markers)
        tail = stripped.rsplit("], [", 1)[-1]
        if " ASC" in tail or " DESC" in tail:
            bad.append(stripped)
    return bad


def test_no_global_window_in_data_scaled_queries(spark):
    # these rank over per-customer grain (linear in the data): a
    # global unpartitioned window here is a single-task sort that
    # cannot survive a 100x scale-up. global_ranked replaces it.
    for name in ("customer_quartiles", "rfm_segments", "power_users_pareto"):
        plan = plan_of(spark, name)
        assert not _unpartitioned_windows(plan), (name, _unpartitioned_windows(plan))


def test_knn_bruteforce_is_map_only_scoring(spark):
    plan = plan_of(spark, "knn_bruteforce")
    # query vectors ship in the task closure and scoring is numpy via
    # mapInPandas: map-only over the base table — no join of any kind,
    # no shuffle before the per-query top-k
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "SortMergeJoin" not in plan


def test_knn_self_join_prefilters_before_window(spark):
    plan = plan_of(spark, "knn_self_join")
    # self-join scores map-only against the closure matrix and emits
    # only n*(k+pad) candidate rows; the ranking window must be
    # partitioned by query_id (never global) and there is no join
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert not _unpartitioned_windows(plan)


def test_new_queries_have_no_global_windows(spark):
    for name in ("cohort_ltv", "phrase_boilerplate", "dedup_span_share"):
        plan = plan_of(spark, name)
        assert not _unpartitioned_windows(plan), name


def test_audits_are_aggregation_only(spark):
    # DQ audits must stay map-side conditional counts: no shuffle
    # beyond one exchange per table branch, no joins
    for name in ("uniqueness_audit", "domain_audit"):
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, name


# Python stages per multimodal round-trip query, as PLANS.md records
# them: one Arrow stage each, two for the audit's screen + sample tiers.
ROUNDTRIP_PYTHON_STAGES = {
    "multimodal_bmp_decode": 1,
    "multimodal_png_decode": 1,
    "multimodal_jpeg_decode": 1,
    "multimodal_jpeg_sampled_audit": 2,
    "multimodal_mp4_demux": 1,
    "multimodal_wav_windows": 1,
}


def test_roundtrip_queries_keep_their_python_stages(spark):
    for name, want in ROUNDTRIP_PYTHON_STAGES.items():
        plan = plan_of(spark, name)
        got = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        assert got == want, (name, got)


def test_minhash_signatures_parallelize_small_inputs(spark):
    # single-file local inputs must be round-robin rebalanced before
    # the Arrow signature stage (operators/util.rebalance_for_arrow):
    # without it the whole MinHash compute runs as ONE task. (The
    # registered queries' returned frames only contain the verify or
    # estimator legs — buckets and signatures are materialized eagerly
    # — so assert on the two signature operators' own plans: the
    # bucket layout as minhash_lsh_pairs calls it, and the array
    # layout incremental_minhash_index persists.)
    from dbeam_spark.operators.dedup import (
        minhash_band_buckets_maponly,
        minhash_signatures_with_bands_maponly,
    )
    from dbeam_spark.sources.files import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sig_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    for sig in (
        minhash_band_buckets_maponly(docs, min_parts=sig_parts),
        minhash_signatures_with_bands_maponly(docs),
    ):
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan
        assert "MapInPandas" in plan


def test_keyword_search_topk_is_distributed(spark):
    # top-10 must come from TakeOrderedAndProject (per-partition heads),
    # never a single-partition global ranking sort over matched docs
    plan = plan_of(spark, "keyword_search")
    assert "TakeOrderedAndProject" in plan


def test_bloom_pruned_revenue_stays_jvm_side(spark):
    plan = plan_of(spark, "bloom_pruned_revenue")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bloom probe (xxhash64 bit tests) must sit in the scan stage,
    # i.e. appear as a Filter before any exchange of lineitem rows
    assert "xxhash64" in plan


def test_part_skyline_windows_are_partitioned(spark):
    # every window in the sweep must be partitioned (the carry-in pid);
    # windowspecdefinition(...) with no partition col would mean the
    # single-task global-window shape came back
    plan = plan_of(spark, "part_skyline")
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.lstrip().startswith("_pm_pid"), frag[:80]


def test_knn_int8_scoring_is_map_only(spark):
    # int8 codes ship in the closure; the base is scored map-only
    # (one rebalance exchange is the only shuffle before the per-query
    # top-k window) and the recall join against the exact twin is a
    # broadcast of queries×k rows — never a sort-merge join
    plan = plan_of(spark, "knn_int8_recall")
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_outliers_broadcasts_centroids(spark):
    # the (label, pos) centroid rollup is labels×dim rows — it must
    # come back as a broadcast join onto the exploded stream, never a
    # shuffle join of the data-scaled side
    plan = plan_of(spark, "embedding_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert not _unpartitioned_windows(plan)


def test_pair_cosine_audit_uses_arrow_kernel(spark):
    # the 64-term cosine chain drops out of codegen inside the pair
    # join (the CLAUDE.md cliff): scoring must run as the Arrow numpy
    # stage, and the pairing join stays an equi join
    plan = plan_of(spark, "embedding_pair_cosine_audit")
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_health_is_single_scan(spark):
    plan = plan_of(spark, "embedding_health")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_phrase_search_topk_is_distributed(spark):
    # top-10 must be TakeOrderedAndProject; the ranking window runs
    # only over the bounded 10-row frame
    plan = plan_of(spark, "phrase_search")
    assert "TakeOrderedAndProject" in plan


def test_spearman_windows_are_partitioned(spark):
    plan = plan_of(spark, "spearman_spend_balance")
    assert not _unpartitioned_windows(plan)


def test_quantile_normalize_no_global_window(spark):
    # pooled ranking must come from the range-partitioned primitive,
    # never a single-partition global row_number
    plan = plan_of(spark, "quantile_normalize_lengths")
    assert not _unpartitioned_windows(plan)


# Queries whose executed plan is ALLOWED to contain an unpartitioned
# ordered window, each with the boundedness argument for its frame.
# Every site below goes through operators.util.bounded_grain_window
# (or an explicit partitionBy(lit(0)) with the same argument in a
# comment) — Catalyst folds the constant partition key back out, so
# the plan alone can't distinguish them from the banned data-scaled
# global sort; this list is the documented exemption the sweep checks.
BOUNDED_GLOBAL_WINDOW_OK = {
    "abc_classification": "per-part rollup frame (reduced dimension "
    "cardinality, documented single-partition by design)",
    "basket_rules": "rules over order-type pairs (enumeration-bounded)",
    "bootstrap_median_ci": "resample-median frame (n_boot rows) + "
    "calendar-bounded daily frame",
    "embedding_pagerank": "ranking the 20-row limit() output",
    "event_trigrams": "event-type trigrams (|types|^3, enum-bounded)",
    "hll_rolling_users": "day-grain rolling frame (calendar-bounded)",
    "keyword_search": "ranking the TakeOrderedAndProject top-10 frame",
    "lorenz_deciles_customers": "10-row decile frame",
    "phrase_search": "ranking the TakeOrderedAndProject top-10 frame",
    "revenue_changepoint": "day-grain CUSUM (calendar-bounded)",
    "revenue_islands": "day-grain gaps-and-islands (calendar-bounded)",
    "revenue_moving_avg": "day-grain MA7 (calendar-bounded)",
    "revenue_trailing_7d": "day-grain trailing window (calendar-bounded)",
    "rrf_hybrid_search": "fusing two bounded top-K result frames",
    "stream_changepoint": "day-grain CUSUM (calendar-bounded)",
    "vocab_growth_curve": "10-row decile frame (doc ranks come from "
    "global_ranked since r6)",
    "yoy_revenue_growth": "year-grain lag (calendar-bounded)",
}


@pytest.mark.slow_sweep
def test_no_unpartitioned_window_in_any_registered_query(spark):
    """Registry-wide sweep: EVERY registered query's executed plan is
    checked for `WindowExec: No Partition Defined` (a data-scaled
    single-task sort — the pattern that cannot survive a 100x
    scale-up). Round 5 proved a named-list guard leaks: a new query
    (vocab_growth_curve) landed the banned shape because it wasn't on
    the list. Any query not in BOUNDED_GLOBAL_WINDOW_OK (with a
    written boundedness argument) fails here."""
    offenders = {}
    for name in sorted(QUERIES):
        u = _unpartitioned_windows(plan_of(spark, name))
        if u and name not in BOUNDED_GLOBAL_WINDOW_OK:
            offenders[name] = u[0][:160]
    assert not offenders, (
        "unpartitioned ordered window(s) in registered queries — "
        "either repartition the window (global_ranked / partitionBy) "
        "or add a documented bounded-grain exemption: "
        f"{offenders}"
    )


def test_collect_surface_is_whitelisted():
    """Driver-side materialization sites in dbeam_spark/queries/ are
    pinned: every `.collect()` / `.toPandas()` / `.toLocalIterator()`
    must appear in this whitelist, which only lists sites audited as
    bounded-by-construction (scalars, enum-bounded frames, top-K, or
    size-gated with distributed fallbacks — see each call site's
    comment). A new query that lands an unlisted driver collect fails
    here until its boundedness is argued and the entry added. Keyed by
    enclosing top-level function (line numbers churn, names don't)."""
    import ast
    import pathlib

    WHITELIST = {
        "events.py": {
            "events_markov_stationary": 1,  # |event_types|² frame
            "chi2_type_dow": 1,  # |types|×7 contingency
            "cdc_rollup_demo": 1,  # bounded day-grain rollup diff
            "markov_removal_attribution": 1,  # |channels|² matrix
        },
        "llm.py": {
            "knn_ivf": 1,  # √n centroid matrix (closure ship)
            "embedding_kmeans": 1,  # k centroids
            "knn_pq": 1,  # 16×16 codebooks
            "quality_classifier": 1,  # model coefficients
            "dedup_incremental": 1,  # 1-row FP-verify aggregate
            "keyword_search_indexed": 1,  # top-10 result
            "token_count_moments": 1,  # 1-row moments
            "ivf_maintain_report": 3,  # index manifests + report rows
            "keyword_index_maintain": 1,  # top-10 result
            "retrieval_eval": 2,  # probe set + P@10 rows
        },
        "streaming.py": {
            "_events_stream": 1,  # schema probe (1 row)
            # sentinel max-ts over the staged dirs (1-row aggregate)
            "_events_stream_nib_sampled": 1,
            # r8: 1-row distinct-count agg collected so the 10M-row
            # /tmp parquet sink can be deleted eagerly (catch #14's
            # fix kept, sink hygiene added)
            "stream_dedup": 1,
            "windowed_late_metrics": 1,  # bounded window rollup
            "stream_column_stats": 1,  # per-batch stats row
            "stream_markov_stationary": 1,  # |types|² frame
            "stream_chi2_type_dow": 1,  # |types|×7 contingency
            "stream_dedup_index": 1,  # 1-row FP-verify aggregate
            # r9: <=20-row busiest-hours report collected so the
            # session-ledger parquet sink (~10M rows at 100x, which
            # overflowed driver.maxResultSize in the memory sink) can
            # be deleted eagerly
            "stream_session_hour_overlap": 1,
            # r9 session 5: 1-row (4 longs) completeness report
            # aggregated DISTRIBUTED over the raw-match parquet sink
            # (~30M rows at 100x — the old memory sink was the 468s
            # wall) and collected so the sink can be deleted eagerly
            "_join_completeness_report": 1,
        },
        "tpch.py": {
            "join_view_demo": 1,  # bounded maintained-view diff
            "customer_gini": 1,  # 1-row scalar
            "revenue_autocorr": 1,  # ≤lag-row frame
            "welch_ttest_priority": 1,  # 2-group moments
            "ols_multifeature": 1,  # (p+1)² normal equations
        },
    }

    qdir = pathlib.Path(__file__).parent.parent / "dbeam_spark" / "queries"
    got: dict[str, dict[str, int]] = {}
    for p in sorted(qdir.glob("*.py")):
        sites: dict[str, int] = {}
        stack: list[str] = []

        class V(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                if isinstance(node.func, ast.Attribute) and node.func.attr in (
                    "collect", "toPandas", "toLocalIterator"
                ):
                    key = stack[0] if stack else "<module>"
                    sites[key] = sites.get(key, 0) + 1
                self.generic_visit(node)

        V().visit(ast.parse(p.read_text()))
        if sites:
            got[p.name] = sites
    assert got == WHITELIST, (
        "driver-collect surface changed; audit boundedness and update "
        f"the whitelist. got={got}"
    )
