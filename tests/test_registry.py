"""Registration-order contract: the verification driver records only the
first 50 registered queries, so the curated DRIVER_WINDOW must stay intact.
"""

import json

import duckdb
from test_families import _recorded_greens

from polygon_algotrading_env_spark.queries import (
    DRIVER_WINDOW,
    REGISTRY,
    oracle_sql,
)


def _prior_certified() -> set[str]:
    """The certified ledger: names hash-matched in a committed
    CORRECTNESS_r*.json record that no longer hold a window slot."""
    return _recorded_greens() - set(DRIVER_WINDOW)


def test_driver_window_is_first_50_and_oracle_bearing():
    names = list(REGISTRY)
    assert names[:50] == list(DRIVER_WINDOW)
    for n in DRIVER_WINDOW:
        assert REGISTRY[n].oracle, f"{n} has no oracle in the driver window"


def test_every_oracle_parses_in_duckdb():
    """Oracles are composed from shared CTE fragments; a badly joined
    fragment (a missing comma between CTEs) must fail here, not only in a
    differential run over data. Parsing needs no tables and no Spark."""
    con = duckdb.connect()
    bad = [
        name
        for name, sql in oracle_sql().items()
        if json.loads(
            con.execute("SELECT json_serialize_sql($1::VARCHAR)", [sql]).fetchone()[0]
        )["error"]
        is not False
    ]
    assert not bad, f"oracles DuckDB cannot parse: {bad}"


def test_rows_only_queries_sort_last():
    specs = list(REGISTRY.values())
    seen_rows_only = False
    for s in specs:
        if s.oracle is None:
            seen_rows_only = True
        else:
            assert not seen_rows_only, (
                f"oracle-bearing {s.name} registered after a rows-only query"
            )


def test_rotated_out_queries_stay_registered_with_oracles():
    """Rotation must never drop a query or weaken its oracle: everything in
    the certified ledger remains registered and oracle-bearing so local
    differential runs (tools/oracle_check.py) still certify it."""
    for n in _prior_certified():
        assert n in REGISTRY, f"prior-certified {n} vanished from registry"
        assert REGISTRY[n].oracle, f"prior-certified {n} lost its oracle"


def test_every_capability_family_in_window():
    """One oracle-bearing representative per SURVEY §2 family / LLM
    capability — either occupying a driver-window slot this round, or
    hash-certified by a recorded prior round (the certified ledger)."""
    window = set(DRIVER_WINDOW)
    families = {
        "filter": "filter_mktsegment",
        "filter_range": "filter_ship_after_watermark",
        "projection": "project_customer",
        "dedup_rows": "dedup_overlapping_batches",
        "distinct": "distinct_orderpriority",
        "ordering": "sort_by_name_length",
        "topk": "topk_orders_by_price",
        "set_ops": "union_order_slices",
        "scalar_datetime": "orders_scalar_suite",
        "scalar_string": "string_funcs_suite",
        "scalar_arith_null": "lineitem_scalar_suite",
        "scalar_map_tz": "map_and_timezone_suite",
        "json": "json_extract_props",
        "sql_text": "sql_api_in_exists_having",
        "pivot": "pivot_status_counts",
        "unpivot": "unpivot_rates",
        "arrays": "array_higher_order_ops",
        "agg_max": "max_shipdate_watermark",
        "agg_argmax": "argmax_order_by_price",
        "agg_grouped": "pricing_summary",
        "agg_rollup": "rollup_returnflag_status",
        "agg_distinct": "count_distinct_parts_per_flag",
        "agg_percentiles": "exact_percentiles_per_flag",
        "join_broadcast": "join_lineitem_part_broadcast",
        "join_semi": "semi_join_customers_with_orders",
        "join_outer": "left_outer_order_count_histogram",
        "join_star": "star_join_revenue_by_region",
        "join_asof": "asof_latest_order_before_event",
        "join_range": "band_join_events_60s",
        "window_rownum": "rownum_recent_orders_per_customer",
        "window_lag": "lag_value_per_user",
        "window_moving": "moving_avg_price_per_supplier",
        "window_range_frame": "range_frame_30d_qty",
        "indicator": "rsi_14_per_event_type",
        "indicator_correlation": "return_correlation_pairs",
        "bars": "ohlcv_bars_5m",
        "bars_resample": "ohlcv_bars_1h_resampled",
        "backtest_chain": "sma_crossover_backtest_5m",
        "adjusted_gold": "adjusted_candles_5m",
        "sessions": "session_windows_per_user",
        "corpus_rarity": "doc_rarity_scores",
        "dedup_exact": "dedup_docs_by_text",
        "dedup_minhash": "minhash_verified_near_dups",
        "dedup_simhash": "simhash_verified_near_dups",
        "dedup_clusters": "near_dup_clusters",
        "dedup_survivors": "dedup_survivors",
        "dedup_span": "substring_span_dedup",
        "ann_bruteforce": "cosine_topk_bruteforce",
        "ann_blocked": "embedding_neighbors_blocked",
        "retrieval_bm25": "bm25_topk_docs",
        "text_analysis": "text_analysis_suite",
        "sampling_split": "train_val_test_split",
        "sampling_packing": "context_window_packing",
        "profiling": "profile_orders_columns",
        "global_ordinals": "global_ordinals_orders",
        "scd2": "scd2_customer_refresh",
        "fingerprint": "fingerprint_orders",
        "graph_triangles": "copurchase_triangles",
        # round-5 window entrants (r4 flagship families)
        "microstructure_pairs": "pairs_spread_zscore",
        "microstructure_vpin": "vpin_volume_buckets",
        "labeling_triple_barrier": "triple_barrier_labels_5m",
        "lm_scoring": "bigram_logprob_docs",
        "split_cluster_aware": "cluster_aware_split",
        "agg_grouping_sets": "multigrain_bars_rollup",
        "tpch_decision_topk": "pending_order_revenue_topk",
        "tpch_decision_scan": "discount_band_revenue",
        "tpch_decision_share": "nation_market_share_economy",
        "tpch_decision_corr_sub": "excess_part_shippers",
        # round-6 window entrants (r5 flagship families)
        "importance_weighting": "dsir_weights_for_target",
        "lm_smoothing": "kneser_ney_logprob_docs",
        "fractal_stats": "hurst_exponent_by_type",
        "skew_profiling": "key_skew_profile",
        "sketch_quantiles": "bottomk_sketch_quantiles",
        "dq_audit": "dq_constraint_audit",
        "sketch_set_algebra": "kmv_audience_overlap",
        "calendar_sessions": "regular_hours_bars",
        "drift_psi": "psi_price_drift",
        # round-7 window entrants: the oracle-certified SRP ANN tier and
        # three headliners that never held a slot before
        "ann_srp_buckets": "srp_bucket_assignments",
        "ann_srp_rerank": "srp_topk_reranked",
        "bars_vwap": "vwap_5m",
        "doc_quality": "doc_quality_features",
        "funnel": "view_click_purchase_funnel",
        # round-8 window entrants: the PageRank family's first driver
        # slots plus three families with no recorded driver row before
        "graph_pagerank": "pagerank_copurchase_top20",
        "graph_ppr": "ppr_related_parts",
        "join_full_outer": "full_outer_daily_activity",
        "robust_regression": "theil_sen_trend_daily",
        "cohort_retention": "weekly_cohort_retention",
        # families rotated out in r7 keep their anchors via the
        # certified ledger
        "exists_not_exists": "sole_blame_suppliers",
        "heavy_hitters": "heavy_hitter_parts",
        "mixture_resample": "mixture_resample_by_lang",
    }
    prior = _prior_certified()
    missing = {
        f: q
        for f, q in families.items()
        if q not in window and q not in prior
    }
    assert not missing, f"families without a certified query: {missing}"

