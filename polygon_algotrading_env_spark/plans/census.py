"""Registry-wide plan-shape census: the scale-killer regression gate.

Builds (never executes) every registered query and checks the physical
plan for the shapes that silently destroy 100 TB viability long before
they change an answer:

- a SORT-MERGE JOIN where a broadcast was intended (a dim table outgrew
  the threshold, a join key type changed, a broadcast() hint was lost);
- a CARTESIAN PRODUCT anywhere (a join condition degenerated — at scale
  this is |A|x|B|, never intended: the engine's scalar-join idiom plans
  as BroadcastNestedLoopJoin over a broadcast 1-row aggregate, which is
  fine and distinct from a shuffled cartesian).

Some queries legitimately sort-merge-join two fact-sized relations;
SMJ_ALLOWED is that documented allowlist (each entry's docstring carries
the rationale). Everything else planning an SMJ fails the census — run
by tests/test_plan_census.py on every pytest run and by
tools/plan_report.py for the human-readable TSV.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import SparkSession

from polygon_algotrading_env_spark.plans.inspect import plan_stats

# Queries where a sort-merge/shuffled join of two FACT-sized relations is
# the intended plan (documented in their docstrings) — everything else
# joining via SMJ is a regression.
SMJ_ALLOWED: frozenset[str] = frozenset(
    {
        # fact-fact or fact-self joins where neither side is dim-sized
        "left_outer_order_count_histogram",  # outer drives, reuses agg exchange
        "excess_part_shippers",              # co-partitioned quota aggregates
        "near_dup_clusters",
        "semantic_dedup_survivors",
        "minhash_near_dup_pairs",
        "minhash_verified_near_dups",
        "simhash_verified_near_dups",
        "ngram_jaccard_near_dup",
        "substring_span_dedup",
        "train_test_contamination",
        "copurchase_triangles",
        "lpa_communities_copurchase",
        "kcore80_copurchase_parts",   # per-round semi-join restriction of the
                                      # checkpointed co-purchase edge set
                                      # against the surviving-vertex relation
                                      # (fact-derived both sides, same family
                                      # as the LPA/PageRank iterations)
        "novelty_by_first_occurrence",       # gram-keyed first-occurrence model
        "doc_rarity_scores",
        "bm25_topk_docs",
        "bigram_logprob_docs",
        "kneser_ney_logprob_docs",  # same big-join-c12 family as bigram LM
        "self_bleu_adjacent_docs",  # (doc, gram)-keyed per-pair clipped-match
                                    # joins — both sides corpus-gram-sized by
                                    # design (same family as the LM joins);
                                    # AQE broadcasts them at fixture scale,
                                    # SMJ is the correct 100 TB plan
        "kl_divergence_by_source",
        "top_terms_per_doc",
        "boilerplate_ngrams",
        "sole_blame_suppliers",              # R-lines join per-order stats, both fact-keyed
        "triple_barrier_labels_5m",
        "lead_lag_best_correlation",  # shifted-ordinal return self-join
        "event_study_volume_spikes",  # same shifted-ordinal join family
        # Spark cannot broadcast either side of a FULL OUTER join; SMJ of
        # the two day-grain aggregates is the only (and correct) strategy.
        "full_outer_daily_activity",
        # FULL OUTER fusion of the two top-50 rank lists (bounded by the
        # rank cutoff, not data scale) — same no-broadcast-full-outer rule.
        "rrf_hybrid_retrieval",
        # hash_min_labels' converged-flag join compares the last two
        # checkpointed label relations row-wise — fact-derived both sides,
        # the iterative-graph family's convergence audit.
        "entity_resolution_parts",
        # bellman_ford's converged-flag join, same convergence-audit shape.
        "cheapest_supply_paths",
    }
)

# An allowlist entry is NOT a blank cheque. Two per-entry hardenings so a
# regression inside an allowlisted query can't hide behind its entry:
#
# 1. DIM-SIDE CHECK: every SMJ side must be fed by at least one fact-scaled
#    source — a fact parquet scan (lineitem/orders/events/documents/
#    embeddings) or a checkpointed fact-derived relation ('Scan
#    ExistingRDD', e.g. the graph operators' edge tables). A side whose
#    leaves are ONLY dim parquet scans means the dim broadcast was lost.
#    `customer` is deliberately NOT in the dim set: it scales linearly
#    with SF (Q13's outer-join side is legitimately fact-sized at 100 TB).
# 2. SMJ BUDGET: the per-entry SMJ count, measured at both gate scales
#    (sf0.001 and sf0.1 — identical). A count above budget means the
#    query gained a join that now sort-merges; bump the budget only with
#    a rationale, never silently. Entries absent from the map get
#    DEFAULT_SMJ_BUDGET: their documented fact-fact joins broadcast at
#    gate scale today, so any SMJ beyond that headroom is a regression.
DIM_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})
SMJ_BUDGET: dict[str, int] = {
    "copurchase_triangles": 10,      # pair/triangle self-join ladder
    # LPA's result is materialized before its edge pin is released, so
    # the final plan reads pinned labels: measured 0 at both gate scales.
    # Budget 1 = measured + 1 headroom.
    "lpa_communities_copurchase": 1,
    # 8 peel rounds x 2 endpoint restrictions + the final degree pair, but
    # AQE broadcasts the shrinking survivor set in most rounds: measured 4
    # at BOTH gate scales (stable). Budget 6 = measured + small headroom;
    # above that the shrink-to-broadcast behavior regressed.
    "kcore80_copurchase_parts": 6,
    "full_outer_daily_activity": 1,
}
DEFAULT_SMJ_BUDGET = 2


# BNLJ broadcast sides that are BOUNDED BY A KEY DOMAIN rather than a
# mechanically-visible scalar/limit shape. kmv_audience_overlap pair-joins
# two per-event_type SKETCH relations (type_a < type_b): each side is a
# grouped aggregate with exactly |event_type| rows (a handful at any SF —
# the sketch table is KB-sized by construction), so the nested loop is a
# |D|²/2 pairing of tiny rows, not a row multiplier.
BNLJ_ALLOWED: frozenset[str] = frozenset(
    {
        "kmv_audience_overlap",
        # (minhash_recall_report left this list in round 11: its ground
        # truth moved from a probe-broadcast BNLJ scan to a shingle-index
        # broadcast hash join.)
    }
)

# Violations whose value starts with this prefix mean the PLAN WALK broke
# (py4j/env error, Spark node-shape drift) — the query's plan may be fine.
# Consumers that alert on genuine plan regressions should partition on it.
WALK_FAILURE_PREFIX = "walk_failure: "


def _bnlj_violation(df) -> str | None:
    """None if every BroadcastNestedLoopJoin broadcast side is one of the
    documented scalar/tiny idioms; else the violation text."""
    from polygon_algotrading_env_spark.plans.inspect import bnlj_broadcast_sides

    try:
        sides = bnlj_broadcast_sides(df)
    except Exception as e:  # noqa: BLE001 — tagged so consumers can split it out
        return f"{WALK_FAILURE_PREFIX}bnlj walk: {type(e).__name__}: {e}"
    for head, bounded in sides:
        if not bounded:
            return (
                f"BroadcastNestedLoopJoin over an UNBOUNDED broadcast side "
                f"({head}) — the scalar/tiny-aggregate idiom regressed to a "
                "row-multiplying relation"
            )
    return None


def census_violations(
    spark: SparkSession,
    sf_dir: str,
    names: Iterable[str] | None = None,
) -> dict[str, str]:
    """Build every named query's plan and return {name: violation} for
    each scale-killer shape found (empty dict = census clean). Plans are
    built, not executed — the whole registry censuses in seconds."""
    from polygon_algotrading_env_spark.queries import REGISTRY

    out: dict[str, str] = {}
    for name in names if names is not None else list(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            st = plan_stats(df)
        except Exception as e:  # noqa: BLE001 — a broken build IS a violation
            out[name] = f"plan build failed: {type(e).__name__}: {e}"
            continue
        if st.cartesian_products:
            out[name] = f"{st.cartesian_products} CartesianProduct in plan"
        elif (
            st.bnl_joins
            and name not in BNLJ_ALLOWED
            and (v := _bnlj_violation(df)) is not None
        ):
            out[name] = v
        elif st.sort_merge_joins and name not in SMJ_ALLOWED:
            out[name] = (
                f"{st.sort_merge_joins} SortMergeJoin outside SMJ_ALLOWED "
                "(broadcast lost, or add a documented allowlist entry)"
            )
        elif st.sort_merge_joins:
            budget = SMJ_BUDGET.get(name, DEFAULT_SMJ_BUDGET)
            if st.sort_merge_joins > budget:
                out[name] = (
                    f"{st.sort_merge_joins} SortMergeJoin exceeds the "
                    f"allowlisted budget of {budget} — a join that used to "
                    "broadcast now sort-merges"
                )
                continue
            from polygon_algotrading_env_spark.plans.inspect import smj_sides

            # The physical-plan walk itself can raise (py4j errors on an
            # unexpected node shape, Spark version drift in initialPlan /
            # collectLeaves); record that as THIS query's violation rather
            # than aborting the whole census.
            try:
                sides = smj_sides(df)
            except Exception as e:  # noqa: BLE001 — recorded, tagged as walk breakage
                out[name] = (
                    f"{WALK_FAILURE_PREFIX}smj_sides: {type(e).__name__}: {e}"
                )
                continue
            for left, right in sides:
                for side in (left, right):
                    if side and side <= DIM_TABLES:
                        out[name] = (
                            f"allowlisted SMJ has a dim-only side "
                            f"{sorted(side)} — the dim broadcast was lost"
                        )
                        break
    return out
