"""Query registry — the engine's declared operator-coverage corpus.

Every operator row in SURVEY.md §2 is realized as a named query over the
driver fixture tables, with (where SQL-expressible) an equivalent ANSI-SQL
oracle string that DuckDB runs on the same parquet files. The verification
driver hash-compares the two result sets (row count + schema + order-
insensitive value hash), so:

- every computed column is aliased identically in the Spark code and SQL;
- double-typed aggregates are rounded identically on both sides (partial
  aggregation order differs between engines at the last ulp) — and the
  rounding grid is magnitude-aware: accumulation error ≈ sqrt(n)·ulp(total),
  so the grid spacing must dominate it (a ~4e9 sum of 600k 2-decimal values
  carries ~4e-4 reorder error — round-4's 5e-5 boundary distance is NOT
  safe there; round at the inputs' exact decimal width instead);
- results involving ``events.ts`` (nanosecond parquet) expose epoch-millis
  bigints or bucket boundaries rather than raw nanosecond timestamps, since
  Spark truncates to microseconds while DuckDB keeps nanos.

Registration is decorator-based; submodules group the corpus by SURVEY §2
section.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable SQL; None → rows-only check
    headline: bool  # included in bench.py's timed suite


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def headline_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}


# Populate the registry (import order defines initial order; the driver
# window below defines the final order).
from polygon_algotrading_env_spark.queries import (  # noqa: E402,F401
    relational,
    aggregates,
    joins,
    windows,
    timeseries,
    text,
    vectors,
    extended,
    sessions,
    reshape,
    suites,
    advanced,
    retrieval,
    decision,
    mleval,
)

# ---------------------------------------------------------------------------
# Driver correctness window.
#
# The verification driver records results for the FIRST 50 registered
# queries only, so registration order is part of the engine's verification
# contract. The window is curated so that every SURVEY §2 operator family
# and every LLM-pipeline capability is certified by at least one
# ORACLE-BEARING query: either inside it, or hash-matched in a committed
# CORRECTNESS_r*.json record (the certified ledger, which tests derive
# from those records — a name rotates out only once it is green on
# record). Everything else follows in stable order — oracle-bearing
# queries first, rows-only checks last.
DRIVER_WINDOW: tuple[str, ...] = (
    "kmeans_clusters_embeddings",
    "dsir_weights_for_target",
    "pmi_collocations_topk",
    "textrank_keywords_top20",
    "cheapest_supply_paths",
    "bfs_hops_part_supplier",
    "semantic_dedup_survivors",
    "lpa_communities_copurchase",
    "pagerank_copurchase_top20",
    "ppr_related_parts",
    "kcore80_copurchase_parts",
    "train_test_contamination",
    "cms_partkey_freq_topk",
    "cms_merged_halves_freq",
    "cms_token_freq_topk",
    "apriori_frequent_pairs",
    "brier_decomposition_urgent",
    "haar_energy_5m",
    "ams_f2_partkey",
    "ams_merged_halves_f2",
    "cms_join_size_events_orders",
    "qdigest_relative_quantiles_price",
    "qdigest_quantiles_price",
    "market_breadth_5m",
    "overnight_gap_fill_rates",
    "hapax_ratio_by_source",
    "returnflag_priority_counts",
    "single_source_parts_by_brand",
    "intersect_all_parts",
    "except_all_parts",
    "null_handling",
    "from_json_struct",
    "collect_set_priorities",
    "date_arithmetic",
    "corwin_schultz_spread_daily",
    "cross_sectional_momentum",
    "mtf_trend_filter_5m",
    "volume_profile_poc",
    "updown_streak_stats",
    "v_reversal_patterns",
    "overnight_intraday_returns",
    "sliding_bars_10m_5m",
    "interpolated_bars_30m",
    "source_vocab_overlap",
    "token_burstiness_topk",
    "top_terms_per_doc",
    "ngram_containment_adjacent",
    "swing_points_5m",
    "candle_pattern_census",
    "stale_tick_fraction",
)


def _apply_registration_order() -> None:
    assert len(DRIVER_WINDOW) == 50, len(DRIVER_WINDOW)
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"driver window names not registered: {missing}"
    no_oracle = [n for n in DRIVER_WINDOW if REGISTRY[n].oracle is None]
    assert not no_oracle, f"rows-only queries in driver window: {no_oracle}"
    window = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    rest_sql = {n: s for n, s in REGISTRY.items() if n not in window and s.oracle}
    rest_rows = {
        n: s for n, s in REGISTRY.items() if n not in window and not s.oracle
    }
    REGISTRY.clear()
    REGISTRY.update(window)
    REGISTRY.update(rest_sql)
    REGISTRY.update(rest_rows)


_apply_registration_order()
