"""Advanced relational shapes (SURVEY.md §2.5/§2.4 extensions).

The reference's join surface is dim-driven fan-out (J1/J2, main.py:40-44);
a user replacing its delegated Databricks analytics additionally needs the
classic decision-support shapes Catalyst plans natively: outer joins,
correlated scalar subqueries, conditional aggregation, and distribution
histograms. Each query here is a well-known TPC-H-style pattern re-expressed
over the driver fixtures, with the Spark plan chosen for 100 TB scale
(broadcast where one side is dim-sized, single shuffle otherwise).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from polygon_algotrading_env_spark.catalog import load_table
from polygon_algotrading_env_spark.queries import register
from polygon_algotrading_env_spark.queries._pagerank_sql import (
    PAGERANK_ROUNDS_CTE,
)


# --- left outer join + two-level aggregate (TPC-H Q13 shape) --------------
@register(
    "left_outer_order_count_histogram",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def left_outer_order_count_histogram(spark, sf_dir):
    """Customer-order-count distribution: LEFT OUTER join keeps orderless
    customers (count 0 bucket), then a histogram over the per-customer
    counts. At scale: first aggregate shuffles on c_custkey (the join is
    broadcast because customer is dim-sized relative to orders only at tiny
    SF — here the outer side drives, so we shuffle-join on the key we then
    aggregate on, reusing one exchange); second aggregate's domain is tiny
    (distinct counts), map-side partials collapse it."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- full outer join: align two daily aggregates --------------------------
@register(
    "full_outer_daily_activity",
    oracle="""
    SELECT coalesce(o.d, e.d)            AS d,
           coalesce(o.n_orders, 0)       AS n_orders,
           coalesce(e.n_events, 0)       AS n_events
    FROM (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, count(*) AS n_orders
      FROM orders GROUP BY 1
    ) o
    FULL OUTER JOIN (
      SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n_events
      FROM events GROUP BY 1
    ) e ON o.d = e.d
    """,
)
def full_outer_daily_activity(spark, sf_dir):
    """Calendar alignment of two independently-aggregated streams: days with
    orders but no events and vice versa both survive (the reconciliation
    query behind 'did ingest miss a day?'). Both sides pre-aggregate before
    the join, so the full-outer join runs on day-grain inputs — thousands of
    rows regardless of fact size. Scale-safe by construction. Day keys are
    exposed as 'yyyy-MM-dd' strings — engines stringify DATE vs TIMESTAMP
    differently, strings hash identically."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    events = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    od, ed = orders.alias("o"), events.alias("e")
    return od.join(ed, F.col("o.d") == F.col("e.d"), "full_outer").select(
        F.coalesce(F.col("o.d"), F.col("e.d")).alias("d"),
        F.coalesce(F.col("o.n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("e.n_events"), F.lit(0)).alias("n_events"),
    )


# --- correlated scalar subquery (TPC-H Q17 shape) -------------------------
@register(
    "small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_weekly
    FROM lineitem l
    JOIN (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    ) t ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_thresh
    """,
)
def small_quantity_revenue(spark, sf_dir):
    """Correlated scalar subquery decorrelated by hand: per-part average
    quantity joined back to the fact. The threshold side is one row per
    partkey — dim-sized — so it broadcasts and the fact table never
    shuffles. (l_quantity is integral, so 0.2*avg is bit-identical across
    engines: integer-valued doubles sum exactly below 2^53.)"""
    li = load_table(spark, sf_dir, "lineitem")
    thresh = (
        li.groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh"))
    )
    return (
        li.join(F.broadcast(thresh), "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_weekly"))
    )


# --- conditional aggregation ratio (TPC-H Q14 shape) ----------------------
@register(
    "promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
                   / sum(l.l_extendedprice * (1 - l.l_discount)), 6
           ) AS promo_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
    """,
)
def promo_revenue_share(spark, sf_dir):
    """Promo revenue share: CASE-gated numerator over a common denominator
    in ONE aggregate pass — the idiom that replaces two scans + a driver-side
    division. Part is broadcast; the date filter is pushed to the parquet
    scan. Rounded at 6 decimals: the ratio is O(10), reorder error O(1e-10)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_share_pct")
        )
    )


# --- scalable global row numbering (zipWithIndex, DataFrame-native) -------
@register(
    "global_ordinals_orders",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS ordinal
    FROM orders
    """,
)
def global_ordinals_orders(spark, sf_dir):
    """Global 1-based ordinals by (o_orderdate, o_orderkey) — certified
    equal to row_number() over the global order, but computed with
    range-partition + per-partition windows + a broadcast prefix-sum of
    partition counts (operators/ids.py). The oracle's formulation is the
    single-partition plan this operator exists to avoid."""
    from polygon_algotrading_env_spark.operators.ids import with_global_ordinals

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    out = with_global_ordinals(
        orders, ["o_orderdate", "o_orderkey"], ordinal_col="ordinal"
    )
    return out.select("o_orderkey", "ordinal")


# --- ntile decile histogram ----------------------------------------------
@register(
    "order_price_deciles",
    oracle="""
    SELECT decile,
           count(*)                  AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    ) t
    GROUP BY decile
    """,
)
def order_price_deciles(spark, sf_dir):
    """EXACT decile bands without the single-partition ntile window.

    ``ntile(n)`` over a global ORDER BY plans one task sorting the world;
    this plan reproduces its exact bucket assignment in parallel:
    global ordinals via the range-partitioned zipWithIndex operator
    (operators/ids.py), then the closed-form ntile assignment — with
    ``q = N DIV n`` and ``r = N % n``, the first ``r`` buckets hold
    ``q+1`` rows and the rest hold ``q``, so
    ``bucket = (ordinal-1) DIV (q+1) + 1`` inside the front-loaded span
    (``ordinal <= r*(q+1)``) and ``r + (ordinal-1 - r*(q+1)) DIV q + 1``
    past it. This matches ntile for EVERY cardinality, not just multiples
    of n. Ties broken by o_orderkey so both engines assign identically;
    the oracle keeps the window formulation to certify the equivalence."""
    from polygon_algotrading_env_spark.operators.ids import with_global_ordinals

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    ranked = with_global_ordinals(
        orders, ["o_totalprice", "o_orderkey"], ordinal_col="ordinal"
    )
    n_rows = ranked.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        ranked.crossJoin(F.broadcast(n_rows))
        .withColumn("q", F.expr("n_rows DIV 10"))
        .withColumn("r", F.expr("n_rows % 10"))
        .withColumn(
            "decile",
            F.expr(
                "CAST(IF(ordinal <= r * (q + 1),"
                "        (ordinal - 1) DIV (q + 1) + 1,"
                "        r + (ordinal - 1 - r * (q + 1)) DIV q + 1)"
                "     AS INT)"
            ),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# --- Q22 shape: scalar subquery threshold + anti join + prefix grouping ---
@register(
    "idle_customer_balance_by_segment",
    oracle="""
    WITH thresh AS (
      SELECT avg(c_acctbal) AS cutoff FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           count(*)                   AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c CROSS JOIN thresh t
    WHERE c.c_acctbal > t.cutoff
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def idle_customer_balance_by_segment(spark, sf_dir):
    """TPC-H Q22 shape: wealthy-but-inactive accounts. A global scalar
    subquery (avg positive balance) gates the dim scan via a 1-row
    broadcast; the activity check is a left-anti join against a filtered
    fact slice; the rollup groups by segment. Composes three shapes —
    uncorrelated scalar subquery, anti join with join-side predicate,
    grouped aggregate — in one certified plan with zero fact shuffles
    (anti side is the only fact scan, and it ships only o_custkey)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    thresh = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("cutoff")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("cutoff"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- order-independent table fingerprint (replica verification) -----------
@register(
    "fingerprint_orders",
    oracle="""
    WITH h AS (
      SELECT ('0x' || substring(md5(concat_ws(chr(31),
                coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'NULL'),
                coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'NULL'),
                coalesce(o_orderstatus, chr(0) || 'NULL'),
                coalesce(o_orderpriority, chr(0) || 'NULL'),
                coalesce(strftime(o_orderdate, '%Y-%m-%d'), chr(0) || 'NULL')
              )), 1, 12))::BIGINT AS h
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT)                     AS n_rows,
           coalesce(bit_xor(h), 0)                      AS xor_fp,
           CAST(coalesce(sum(h) % 281474976710656, 0) AS BIGINT) AS sum_fp
    FROM h
    """,
)
def fingerprint_orders(spark, sf_dir):
    """Order-independent fingerprint of the orders table (key columns +
    formatted date): one scan, map-side partial aggregation, 1-row
    output. The certified object is cross-ENGINE agreement — the md5-int
    convention means any system (here DuckDB standing in for 'the other
    copy') can verify a Spark-produced fingerprint, which is the whole
    point of a migration/replica check (operators/checksum.py)."""
    from polygon_algotrading_env_spark.operators.checksum import table_fingerprint

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
    )
    return table_fingerprint(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "d"]
    )


# --- robust (median/MAD) outlier detection per group ----------------------
@register(
    "robust_outliers_per_flag",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY 1
    ),
    mad AS (
      SELECT l.l_returnflag,
             quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
      FROM lineitem l JOIN med m USING (l_returnflag)
      GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(any_value(m.med), 6) AS med,
           round(any_value(d.mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(l.l_extendedprice - m.med)
                              > 3.5 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l
    JOIN med m USING (l_returnflag)
    JOIN mad d USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def robust_outliers_per_flag(spark, sf_dir):
    """Robust per-group outlier detection: modified z-score on the median
    absolute deviation (|x − med| > 3.5·1.4826·MAD) — the curation
    filter that survives the very outliers a mean/stddev z-score is
    dragged by. Three exact-percentile aggregates; the group-level med/
    MAD relations are group-cardinality-sized and broadcast back, so the
    fact table is scanned, never shuffled (Spark `percentile` ≡ DuckDB
    `quantile_cont`, certified by exact_percentiles_per_flag)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med")
    )
    with_med = li.join(F.broadcast(med), "l_returnflag")
    mad = (
        with_med.groupBy("l_returnflag")
        .agg(
            F.percentile(
                F.abs(F.col("l_extendedprice") - F.col("med")), F.lit(0.5)
            ).alias("mad")
        )
    )
    dev = F.abs(F.col("l_extendedprice") - F.col("med"))
    return (
        with_med.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.any_value("med"), 6).alias("med"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.sum(
                F.when(dev > 3.5 * 1.4826 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --- triangle counting on the co-purchase graph ---------------------------
@register(
    "copurchase_triangles",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
                      greatest(a.l_partkey, b.l_partkey) AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def copurchase_triangles(spark, sf_dir):
    """Global triangle count of the parts-ordered-together graph — the
    clustering-structure statistic for co-occurrence graphs (and the same
    machinery audits near-dup pair graphs before clustering). The oracle
    counts ordered (a<b<c) closed wedges directly; the engine runs the
    degree-oriented plan (operators/graph.py: triangle_count) whose wedge
    fan-out is bounded by out-degree O(√m) — the shape that survives
    power-law hubs where the naive a<b<c join explodes on the hottest
    vertex."""
    from polygon_algotrading_env_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "k")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    return triangle_count(edges)


# --- SCD2 dimension refresh (type-2 history) ------------------------------
@register(
    "scd2_customer_refresh",
    oracle="""
    WITH s0 AS (
      SELECT c_custkey, c_mktsegment FROM customer
    ),
    s1 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT a.c_custkey, a.c_mktsegment,
           '2024-01-01 00:00:00' AS valid_from,
           '2024-02-01 00:00:00' AS valid_to
    FROM s0 a JOIN s1 b USING (c_custkey)
    WHERE a.c_mktsegment <> b.c_mktsegment
    UNION ALL
    SELECT a.c_custkey, a.c_mktsegment, '2024-01-01 00:00:00', NULL
    FROM s0 a JOIN s1 b USING (c_custkey)
    WHERE a.c_mktsegment = b.c_mktsegment
    UNION ALL
    SELECT b.c_custkey, b.c_mktsegment, '2024-02-01 00:00:00', NULL
    FROM s0 a JOIN s1 b USING (c_custkey)
    WHERE a.c_mktsegment <> b.c_mktsegment
    """,
)
def scd2_customer_refresh(spark, sf_dir):
    """Type-2 slowly-changing dimension: apply a refresh snapshot (every
    7th customer migrates segment) to the initial load — changed rows
    close with valid_to, new versions open, unchanged rows carry their
    original validity. The engine runs the general operator
    (operators/scd.py: scd2_apply — key equi-joins only, history rows
    never rescanned); the oracle enumerates the three outcome classes
    directly. This is the queryable history the reference's daily
    full-replace dims throw away (reference_data_etl.py:67). Validity
    bounds exposed as formatted strings for rendering-independent
    hashes."""
    from polygon_algotrading_env_spark.operators.scd import scd2_apply, scd2_init

    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    cust = load_table(spark, sf_dir, "customer")
    s0 = cust.select("c_custkey", "c_mktsegment")
    s1 = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "MIGRATED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    scd = scd2_apply(scd2_init(s0, t0), s1, ["c_custkey"], t1)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return scd.select(
        "c_custkey",
        "c_mktsegment",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
    )


# --- PageRank over the co-purchase graph (rows-only: iterative float) -----
@register(
    "pagerank_copurchase_top20",
    oracle="""
    WITH RECURSIVE
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),"""
    + PAGERANK_ROUNDS_CTE
    + """
    SELECT id AS l_partkey, round(rank, 8) AS rank
    FROM ranks WHERE iter = 6
    ORDER BY round(rank, 8) DESC, id
    LIMIT 20
    """,
)
def pagerank_copurchase_top20(spark, sf_dir):
    """PageRank (6 rounds, d=0.85) over the undirected co-ordered-parts
    graph, top-20 parts by centrality. Per round one narrow (id, rank)
    shuffle; dangling mass folded in as a scalar — no dangling→all edge
    materialization (operators/graph.py: pagerank, verified against a
    dense power iteration to 1e-9 in tests). Oracle (r7): the same 6
    fixed power-iteration rounds as a DuckDB recursive CTE — the working
    table carries (iter, id, rank), inflow is a join+group-by on the
    previous iteration, and the emitted-mass scalar is a window SUM over
    the new row set (rank conservation, same identity the Spark plan
    uses). Round-8 on ~1e-3 ranks dominates the cross-engine float
    reorder noise (<1e-15) by seven orders of magnitude."""
    from polygon_algotrading_env_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    und = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])  # both directions kept
    )
    pr = pagerank(und, n_iter=6)
    return (
        pr.select(F.col("id").alias("l_partkey"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "l_partkey")
        .limit(20)
    )


# --- Q2 shape: min-per-group + equality join-back (argmin suppliers) ------
@register(
    "min_unit_cost_supplier_per_part",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, min(unit_cost) AS best_cost FROM costs GROUP BY 1
    )
    SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
           c.unit_cost AS unit_cost
    FROM costs c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 5
    """,
)
def min_unit_cost_supplier_per_part(spark, sf_dir):
    """TPC-H Q2 shape: for each (small) part, the supplier(s) offering the
    minimum observed unit cost — min-per-group, then an equality
    join-back to recover the argmin rows (keeps ALL tied suppliers,
    which argmax/min_by cannot), then broadcast dim joins. Unit costs
    are IEEE divisions of identical inputs, so min picks bit-identical
    doubles on both engines and the equality join-back needs no epsilon
    or rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    supp = load_table(spark, sf_dir, "supplier")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = (
        costs.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("best_cost"))
        .withColumnRenamed("l_partkey", "__bk")  # break self-join lineage ambiguity
    )
    return (
        costs.join(
            best,
            (F.col("l_partkey") == F.col("__bk"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .select("l_partkey", "l_suppkey", "unit_cost")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "unit_cost")
    )


# --- Q11 shape: HAVING above a global-fraction scalar subquery ------------
@register(
    "part_value_concentration",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             sum(l_extendedprice * (1 - l_discount)) AS part_value
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(part_value) AS total FROM rev)
    SELECT r.l_partkey, round(r.part_value, 4) AS part_value
    FROM rev r CROSS JOIN tot t
    WHERE r.part_value > 0.0005 * t.total
    """,
)
def part_value_concentration(spark, sf_dir):
    """TPC-H Q11 shape: parts whose discounted revenue exceeds a FRACTION
    of the global total — a grouped aggregate gated by a scalar subquery
    over its own re-aggregation, delivered as a 1-row broadcast (no
    second scan of the fact: the rev relation is the only lineitem
    read, reused for both sides). Round-4 = the inputs' exact decimal
    width (2-dec price x 2-dec discount); per-part sums carry ~1e-8
    accumulation noise vs the 5e-5 half-boundary distance."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "part_value"
        )
    )
    tot = rev.agg(F.sum("part_value").alias("total"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .where(F.col("part_value") > 0.0005 * F.col("total"))
        .select("l_partkey", F.round("part_value", 4).alias("part_value"))
    )


# --- Q15 shape: view + max-equality join (top supplier in a period) -------
@register(
    "top_revenue_supplier_quarter",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def top_revenue_supplier_quarter(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in one
    quarter — a revenue view consumed twice (per-supplier rows + its own
    max) with the max as a 1-row broadcast equality. Comparing ROUNDED
    sums (round-4, the inputs' decimal width) makes the equality robust:
    both engines round their ~1e-9-noisy sums onto the same grid point
    before the tie test, the same discipline the oracle applies."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


# --- Q18 shape: HAVING-sum semi filter + join back + deterministic top-k --
@register(
    "big_ticket_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def big_ticket_customers(spark, sf_dir):
    """TPC-H Q18 shape: customers behind the largest-volume orders — a
    HAVING-gated aggregate over the fact (sums of integral quantities:
    exact), joined back through orders to the customer dim, with a
    deterministic top-100 (totalprice desc, orderkey tiebreak) that
    Spark plans as TakeOrderedAndProject, never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- Q4 shape: EXISTS-gated priority counts -------------------------------
@register(
    "priority_order_fulfillment",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def priority_order_fulfillment(spark, sf_dir):
    """TPC-H Q4 shape: orders in a quarter having at least one line item
    shipped after the order date, counted by priority. The EXISTS is a
    LEFT SEMI join whose non-equi half (shipdate > orderdate) rides the
    join condition, so the fact side ships only (l_orderkey, l_shipdate)
    and each order is emitted once no matter how many lines qualify —
    the join can never amplify rows. Date range pushed to the orders
    scan."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --- data-validation: referential integrity audit -------------------------
@register(
    "referential_integrity_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'orders->customer' AS fk, count(*) AS orphans
      FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'lineitem->orders', count(*)
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'lineitem->part', count(*)
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      UNION ALL
      SELECT 'supplier->nation', count(*)
      FROM supplier s WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
    ) t
    """,
)
def referential_integrity_audit(spark, sf_dir):
    """Data-validation audit: orphan counts for every foreign-key edge of
    the star schema, as LEFT ANTI joins (each ships only the key columns;
    dim sides broadcast). The all-zeros result IS the assertion — run
    after every load, alert on any nonzero. One row per relationship so
    new edges extend the audit without schema changes."""
    checks = [
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for name, child, ck, parent, pk in checks:
        c = load_table(spark, sf_dir, child).select(ck)
        p = load_table(spark, sf_dir, parent).select(pk)
        orphans = (
            c.join(F.broadcast(p), c[ck] == p[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("orphans"))
            .select(F.lit(name).alias("fk"), "orphans")
        )
        out = orphans if out is None else out.unionByName(orphans)
    return out


# --- Q7 shape: nation-pair trade volume by year ---------------------------
@register(
    "nation_pair_volume_by_year",
    oracle="""
    SELECT sn.n_name                     AS supp_nation,
           cn.n_name                     AS cust_nation,
           year(l.l_shipdate)            AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey  = o.o_custkey
    JOIN supplier s  ON s.s_suppkey  = l.l_suppkey
    JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
    WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
    GROUP BY 1, 2, 3
    """,
)
def nation_pair_volume_by_year(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two fixture nations
    (NATION_18/NATION_19 — populated at every fixture SF) by ship year — the fact joins BOTH dimension chains (customer-side and
    supplier-side nation), every dim broadcast, with the nation-pair
    predicate applied to the broadcast sides so the fact scan only
    retains matching rows. Round-4 = the inputs' exact decimal width."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nation.withColumnRenamed("n_name", "cust_nation").withColumnRenamed(
        "n_nationkey", "cnk"
    )
    sn = nation.withColumnRenamed("n_name", "supp_nation").withColumnRenamed(
        "n_nationkey", "snk"
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | (
        (F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18")
    )
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
                            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
                            .select("o_orderkey", "cust_nation")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(
                supp.join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
                .select("s_suppkey", "supp_nation")
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# --- Q10 shape: returned-item revenue, top customers ----------------------
@register(
    "returned_item_top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_item_top_customers(spark, sf_dir):
    """TPC-H Q10 shape: customers who returned the most revenue — the
    lost-revenue ranking behind churn triage. returnflag filter pushed to
    the fact scan; customer/nation broadcast; the aggregate shuffles once
    on c_custkey; top-20 is TakeOrderedAndProject with the custkey
    tiebreak making the cut deterministic. Round-4 BEFORE the ordering so
    both engines rank the identical grid values."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- Benford first-digit audit --------------------------------------------
@register(
    "benford_price_digits",
    oracle="""
    SELECT digit,
           count(*)                                        AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6)               AS benford_p
    FROM (
      SELECT CAST(floor(o_totalprice
                        / power(10, floor(log10(o_totalprice)))) AS INT)
               AS digit
      FROM orders WHERE o_totalprice > 0
    ) t
    GROUP BY digit
    """,
)
def benford_price_digits(spark, sf_dir):
    """Benford's-law audit of order totals: the observed first-significant-
    digit distribution against log10(1+1/d) — the standard forensic screen
    for fabricated or truncated monetary columns (a data-quality primitive
    for ingest monitoring). Digit extraction is pure arithmetic (no string
    round-trip): d = floor(p / 10^floor(log10 p)). One scan, 9-row output;
    the share uses a window over the grouped result (9 rows) rather than a
    second scan. floor/log10 agree bit-for-bit on both engines for the
    2-decimal fixture domain."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    from pyspark.sql import Window

    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    grouped = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = Window.partitionBy()
    return grouped.select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(total), 6).alias("observed_p"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
    )


# --- label-propagation communities (oracle-bearing since round 8) ---------
def _lpa_oracle(n_iter: int = 4) -> str:
    """DuckDB replay of the synchronous-LPA rounds. The iteration count is
    FIXED (cap-and-stop is the LPA contract), so no recursion is needed:
    each round is a plain CTE — neighbor-label counts, per-vertex argmax
    with count DESC / label ASC (the smallest-label tiebreak), isolated
    vertices keeping their label via the left join. All-integer
    arithmetic ⇒ exact cross-engine equality, no rounding grid."""
    rounds = []
    for i in range(1, n_iter + 1):
        prev = f"r{i - 1}"
        rounds.append(f"""
    r{i} AS (
      SELECT l.id, coalesce(b.nl, l.label) AS label
      FROM {prev} l LEFT JOIN (
        SELECT id, label AS nl FROM (
          SELECT s.v AS id, l2.label, count(*) AS cnt,
                 row_number() OVER (PARTITION BY s.v
                                    ORDER BY count(*) DESC, l2.label ASC)
                   AS rk
          FROM {prev} l2 JOIN sym s ON l2.id = s.u
          GROUP BY s.v, l2.label
        ) WHERE rk = 1
      ) b ON l.id = b.id
    )""")
    return f"""
    WITH sym AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    r0 AS (
      SELECT DISTINCT u AS id, CAST(u AS BIGINT) AS label FROM sym
    ),{",".join(rounds)}
    SELECT label,
           count(*)     AS size,
           min(id)      AS min_member
    FROM r{n_iter}
    GROUP BY label
    ORDER BY size DESC, label
    LIMIT 20
    """


@register("lpa_communities_copurchase", oracle=_lpa_oracle(4))
def lpa_communities_copurchase(spark, sf_dir):
    """Deterministic label-propagation communities over the co-ordered-
    parts graph, reported as the 20 largest communities with size and
    min-member id. Communities refine connected components (a single
    bridge order does not merge two dense part clusters — the
    catalog-taxonomy view CC flattens); synchronous rounds + smallest-
    label tiebreak make the result partitioning-independent
    (operators/graph.py: label_propagation, pinned against a Python
    reference). Oracle-bearing since round 8: the fixed iteration count
    means DuckDB replays the synchronous rounds as four chained CTEs
    (no recursion) with the identical count-then-smallest-label argmax —
    all-integer, so the hash match is exact."""
    from polygon_algotrading_env_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    und = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    labels = label_propagation(und, n_iter=4)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("id").alias("min_member"),
        )
        .orderBy(F.desc("size"), "label")
        .limit(20)
    )


@register(
    "ppr_related_parts",
    oracle="""
    WITH RECURSIVE
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    verts AS (SELECT DISTINCT u AS id FROM edges),
    deg AS (SELECT u, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
    ranks(iter, id, rank) AS (
      -- explicit DOUBLE: a bare CASE literal types as DECIMAL(2,1) and
      -- silently truncates every subsequent rank to one fractional digit
      SELECT 0, id, CAST(CASE WHEN id = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE)
      FROM verts
      UNION ALL
      SELECT iter + 1, id,
             (1 - 0.85) * p
             + 0.85 * (1.0 - sum(inflow) OVER ()) * p
             + 0.85 * inflow
      FROM (
        SELECT r.iter, v.id,
               CAST(CASE WHEN v.id = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS p,
               COALESCE(c.inflow, 0.0) AS inflow
        FROM (SELECT DISTINCT iter FROM ranks) r
        CROSS JOIN verts v
        LEFT JOIN (
          SELECT e.v AS id, sum(ranks.rank / d.outdeg) AS inflow
          FROM ranks JOIN edges e ON ranks.id = e.u JOIN deg d ON d.u = e.u
          GROUP BY e.v
        ) c ON c.id = v.id
      )
      WHERE iter < 6
    )
    SELECT id AS l_partkey, round(rank, 8) AS rank
    FROM ranks WHERE iter = 6 AND id <> 1
    ORDER BY round(rank, 8) DESC, id
    LIMIT 20
    """,
)
def ppr_related_parts(spark, sf_dir):
    """'Parts related to part 1' by personalized PageRank over the
    co-ordered-parts graph: teleport and dangling mass restart at the
    seed part, so rank measures proximity TO IT — the related-item
    recommendation primitive, same collect-free iteration shape as the
    global PageRank query (operators/graph.py: personalized_pagerank,
    verified against a dense reference to 1e-9 in tests). Oracle (r7):
    the same 6 fixed rounds as a DuckDB recursive CTE with the seeded
    preference vector p = 1[id=1] in both the teleport and dangling
    terms; emitted mass via a window SUM over the new row set. Top-20
    excluding the seed itself, round-8 both sides."""
    from polygon_algotrading_env_spark.operators.graph import (
        personalized_pagerank,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    und = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    ppr = personalized_pagerank(und, [1], n_iter=6)
    return (
        ppr.where(F.col("id") != 1)
        .select(F.col("id").alias("l_partkey"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "l_partkey")
        .limit(20)
    )


# --- k-core decomposition (fixed-round peeling, LPA-recipe oracle) ---------
def _kcore_oracle(k: int = 80, n_rounds: int = 8) -> str:
    rounds = []
    for i in range(1, n_rounds + 1):
        prev = f"a{i - 1}"
        rounds.append(f"""
    a{i} AS MATERIALIZED (
      SELECT u AS id FROM (
        SELECT e.u, count(*) AS deg
        FROM sym e
        JOIN {prev} x ON e.u = x.id
        JOIN {prev} y ON e.v = y.id
        GROUP BY e.u
      ) WHERE deg >= {k}
    )""")
    return f"""
    WITH sym AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym),{",".join(rounds)},
    fdeg AS MATERIALIZED (
      SELECT e.u AS id, count(*) AS core_degree
      FROM sym e
      JOIN a{n_rounds} x ON e.u = x.id
      JOIN a{n_rounds} y ON e.v = y.id
      GROUP BY e.u
    ),
    conv AS (
      SELECT (SELECT count(*) FROM fdeg WHERE core_degree >= {k})
               = (SELECT count(*) FROM a{n_rounds}) AS converged
    )
    SELECT f.id AS l_partkey, f.core_degree, conv.converged
    FROM fdeg f, conv
    """


@register("kcore80_copurchase_parts", oracle=_kcore_oracle())
def kcore80_copurchase_parts(spark, sf_dir):
    """80-core of the co-purchase graph: parts surviving iterated removal
    of low-degree vertices — the density filter that isolates the
    strongly cross-sold assortment (communities/CC keep bridge-connected
    fluff; the k-core doesn't). Fixed 8 peeling rounds make the
    computation deterministic and DuckDB-replayable as chained CTEs (the
    LPA recipe; the co-purchase graph reaches its fixpoint in ≤6 rounds
    at every fixture SF — asserted by the emitted ``converged`` flag,
    which both engines derive as 'one more round removes nothing').
    All-integer ⇒ exact hash equality. Scale: each round is a semi-join
    restriction + degree aggregate on a monotonically shrinking set."""
    from polygon_algotrading_env_spark.operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("dst"))
    und = (
        a.join(b, "o")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    out = k_core(und, k=80, n_rounds=8)
    return out.select(
        F.col("id").alias("l_partkey"), "core_degree", "converged"
    )


# --- privacy-preserving release (k-anonymity + DP counts) ------------------
@register(
    "k_anonymous_customer_release",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n,
             round(sum(c_acctbal), 2) AS total_balance
      FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS n_all FROM g)
    SELECT g.c_mktsegment, g.c_nationkey, g.n, g.total_balance,
           CAST((SELECT sum(n) FROM g WHERE n < 6) AS BIGINT)
             AS n_suppressed_rows
    FROM g WHERE g.n >= 6
    """,
)
def k_anonymous_customer_release(spark, sf_dir):
    """k-anonymity release (k=6) over the (mktsegment, nationkey)
    quasi-identifier: equivalence classes smaller than k are SUPPRESSED
    (publishing them would isolate ≤5 customers), surviving classes ship
    their aggregate, and every released row carries the total suppressed
    row count so consumers can bound the distortion. One hash aggregate
    + a scalar suppression tally broadcast back — the privacy gate runs
    at dimension-table cost regardless of fact scale."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )
    suppressed = g.where(F.col("n") < 6).agg(
        F.sum("n").cast("bigint").alias("n_suppressed_rows")
    )
    return (
        g.where(F.col("n") >= 6)
        .crossJoin(F.broadcast(suppressed))
        .select(
            "c_mktsegment", "c_nationkey", "n", "total_balance",
            "n_suppressed_rows",
        )
    )


@register(
    "dp_noisy_segment_counts",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY 1
    ),
    u AS (
      SELECT c_mktsegment, n,
             ('0x' || substring(md5('dp|' || c_mktsegment), 1, 8))::BIGINT
               / 4294967296.0 - 0.5 AS v
      FROM g
    )
    SELECT c_mktsegment, n,
           round(n + -2.0 * (CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END)
                     * ln(1.0 - 2.0 * abs(v)), 6) AS noisy_n
    FROM u
    """,
)
def dp_noisy_segment_counts(spark, sf_dir):
    """ε-differentially-private counts per market segment via the Laplace
    mechanism (sensitivity 1, ε=0.5 → scale 2): noise = −scale·sign(u)·
    ln(1−2|u|) with u ∈ (−½,½) by inverse-CDF. The uniform is
    DERANDOMIZED from md5 of the key — that makes the mechanism testable
    and hash-certifiable cross-engine but NOT actually private (a fixed
    seed is a published function of the data); a production release
    swaps the md5 uniform for a real RNG draw and keeps everything else.
    The raw count ships alongside so tests can bound the injected noise.
    Plan: one hash aggregate, noise as scalar expressions in codegen."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    v = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp|"), F.col("c_mktsegment"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
        - 0.5
    )
    noise = (
        F.lit(-2.0)
        * F.when(v < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(F.lit(1.0) - 2.0 * F.abs(v))
    )
    return g.select(
        "c_mktsegment",
        "n",
        F.round(F.col("n") + noise, 6).alias("noisy_n"),
    )


# --- BFS hop distance (fixed-round frontier, LPA-recipe oracle) ------------
def _bfs_oracle(n_rounds: int = 10, thresh: int = 48) -> str:
    rounds = []
    for i in range(1, n_rounds + 1):
        prev = f"a{i - 1}"
        rounds.append(f"""
    a{i} AS MATERIALIZED (
      SELECT id, CAST(min(hops) AS INT) AS hops FROM (
        SELECT id, hops FROM {prev}
        UNION ALL
        SELECT e.v AS id, x.hops + 1 AS hops
        FROM {prev} x JOIN sym e ON e.u = x.id
      ) GROUP BY id
    )""")
    return f"""
    WITH sym AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT l_partkey AS u, 10000000 + l_suppkey AS v
        FROM lineitem WHERE l_quantity >= {thresh}
        UNION ALL
        SELECT 10000000 + l_suppkey AS u, l_partkey AS v
        FROM lineitem WHERE l_quantity >= {thresh}
      )
    ),
    a0 AS MATERIALIZED (
      SELECT min(l_partkey) AS id, 0 AS hops
      FROM lineitem WHERE l_quantity >= {thresh}
    ),{",".join(rounds)}
    SELECT CAST(hops AS INT) AS hops,
           count(*) AS n_vertices,
           min(id) AS min_id,
           (SELECT count(*) FROM a{n_rounds})
             = (SELECT count(*) FROM a{n_rounds - 1}) AS converged
    FROM a{n_rounds}
    GROUP BY hops
    """


@register("bfs_hops_part_supplier", oracle=_bfs_oracle())
def bfs_hops_part_supplier(spark, sf_dir):
    """BFS hop distance over the THINNED part-supplier bipartite graph
    (edges = distinct (part, supplier) pairs shipped at quantity >= 48;
    suppliers offset into their own id space), seeded at the smallest
    part with any bulk edge (a deterministic seed that EXISTS at every
    fixture SF — a fixed literal seed goes edge-less at sf0.1): hop 1 =
    the seed's bulk suppliers, hop 2 = parts those suppliers also ship
    in bulk, ... — the supply-chain proximity primitive (recall ladders,
    impact radii). Fixed 10 relaxation rounds make the computation
    deterministic and DuckDB-replayable as chained MATERIALIZED CTEs
    (the LPA / k-core recipe); the emitted ``converged`` flag records
    'the last round reached no new vertex' on both engines (the fixture
    graph's true eccentricity from the seed is 6 at sf0.01). Output is
    the per-hop census — (hops, n_vertices, min_id) — all exact
    integers ⇒ exact hash equality. Scale: per round one
    frontier-bounded equi-join + min aggregate on (id); the edge
    relation is built once; the seed lookup is one bounded scalar
    aggregate (the probe-vector precedent)."""
    from polygon_algotrading_env_spark.operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem")
    bulk = li.where(F.col("l_quantity") >= 48)
    e = bulk.select(
        F.col("l_partkey").alias("src"),
        (F.lit(10000000) + F.col("l_suppkey")).alias("dst"),
    ).distinct()
    seed = bulk.agg(F.min("l_partkey")).collect()[0][0]
    out = bfs_hops(e, seeds=[seed], n_rounds=10)
    return (
        out.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("id").alias("min_id"),
            F.first("converged").alias("converged"),
        )
        .select("hops", "n_vertices", "min_id", "converged")
    )


# --- Adamic-Adar link prediction over supplier co-occurrence ---------------
@register(
    "adamic_adar_part_links",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      FROM lineitem WHERE l_quantity >= 48
    ),
    deg AS (
      SELECT s, count(*) AS d FROM e GROUP BY s HAVING count(*) >= 2
    )
    SELECT part_a, part_b, n_common, aa_score FROM (
      SELECT a.p AS part_a, b.p AS part_b,
             count(*) AS n_common,
             round(sum(1.0 / ln(deg.d)), 6) AS aa_score
      FROM e a
      JOIN e b ON a.s = b.s AND a.p < b.p
      JOIN deg ON deg.s = a.s
      GROUP BY 1, 2
    )
    ORDER BY aa_score DESC, part_a, part_b
    LIMIT 20
    """,
)
def adamic_adar_part_links(spark, sf_dir):
    """Adamic-Adar link prediction on the thinned part-supplier
    co-occurrence graph: for every part pair sharing a bulk supplier,
    score = sum over common suppliers of 1/ln(degree) — rare shared
    suppliers count more than ubiquitous ones (Adamic & Adar 2003, the
    standard common-neighbor link-prediction baseline). Top-20 pairs.
    The mediator degree table is supplier-sized ⇒ broadcast; the wedge
    enumeration is sum-over-suppliers deg² — bounded because 'parts per
    supplier at quantity >= 48' tracks assortment width, not fact-table
    scale, and the standard super-node exclusion (cap or drop ubiquitous
    mediators) slots into the HAVING if a skewed domain needs it. Score
    is a short sum of reciprocal logs (magnitude <= ~40, reorder error
    ~1e-15) ⇒ the 6-decimal grid is exact cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.where(F.col("l_quantity") >= 48)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") >= 2)
    )
    a = e.select(F.col("p").alias("part_a"), "s")
    b = e.select(F.col("p").alias("part_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("part_a") < F.col("part_b"))
        .join(F.broadcast(deg), "s")
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("d"))), 6).alias(
                "aa_score"
            ),
        )
    )
    return pairs.orderBy(
        F.desc("aa_score"), "part_a", "part_b"
    ).limit(20)


# --- record linkage / entity resolution ------------------------------------
def _er_oracle(n_rounds: int = 8) -> str:
    rounds = []
    for i in range(1, n_rounds + 1):
        prev = f"a{i - 1}"
        rounds.append(f"""
    a{i} AS MATERIALIZED (
      SELECT id, min(l) AS label FROM (
        SELECT id, label AS l FROM {prev}
        UNION ALL
        SELECT e.u AS id, x.label AS l
        FROM sym e JOIN {prev} x ON x.id = e.v
      ) GROUP BY id
    )""")
    return f"""
    WITH parts AS MATERIALIZED (
      SELECT p_partkey, p_name, p_brand, p_size,
             split_part(p_name, ' ', 2) AS noun
      FROM part
    ),
    pairs AS MATERIALIZED (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM parts a JOIN parts b
        ON a.p_brand = b.p_brand AND a.noun = b.noun
       AND a.p_partkey < b.p_partkey
      WHERE abs(a.p_size - b.p_size) <= 1
        AND levenshtein(a.p_name, b.p_name) <= 4
    ),
    sym AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ),
    a0 AS MATERIALIZED (
      SELECT DISTINCT u AS id, u AS label FROM sym
    ),{",".join(rounds)},
    conv AS (
      SELECT count(*) = 0 AS converged
      FROM a{n_rounds} x JOIN a{n_rounds - 1} y ON x.id = y.id
      WHERE x.label <> y.label
    )
    SELECT l.label AS cluster_id,
           count(*) AS n_members,
           count(DISTINCT p.p_name) AS n_distinct_names,
           min(CASE WHEN p.p_partkey = l.label THEN p.p_name END)
             AS canonical_name,
           conv.converged
    FROM a{n_rounds} l
    JOIN parts p ON p.p_partkey = l.id
    CROSS JOIN conv
    GROUP BY l.label, conv.converged
    """


@register("entity_resolution_parts", headline=True, oracle=_er_oracle())
def entity_resolution_parts(spark, sf_dir):
    """Record linkage / entity resolution over part listings — the
    blocking -> pairwise-match -> cluster -> golden-record pipeline every
    catalog/training-data dedup runs (Fellegi-Sunter framing, modern
    blocked form):

    - BLOCK on (brand, product noun): candidate pairs only within a
      block, never all-pairs — the key bounds comparisons by assortment
      vocabulary, not catalog size;
    - MATCH with cheap exact predicates first (size within 1), then the
      expensive edit-distance predicate (levenshtein <= 4) — both
      engines evaluate levenshtein natively, all-integer;
    - CLUSTER matched pairs with fixed-round hash-min labels
      (operators/graph.py: hash_min_labels). The emitted ``converged``
      flag reports honestly whether 8 rounds reached the component
      fixpoint: TRUE at the driver's certification scales (sf0.001
      fixpoint in 2 rounds, sf0.01 in 4 — measured), FALSE at sf0.1+
      where cross-block name chains string components past the 8-hop
      horizon (19.3k vertices / 42.7k matched edges / 1,919 8-round
      labels vs 1,728 true components — measured r15; a per-round
      pointer-jump variant still leaves 1,761 at 3.6s extra, and
      pointer-jumping connected_components to the true fixpoint costs
      25.8s vs 4.4s). Both engines replay the same 8 rounds, so the
      certified artifact is exactly "clusters at the 8-round horizon,
      flag telling you which regime you're in"; unbounded-diameter
      graphs route to connected_components (the 100 TB path);
    - GOLDEN RECORD per cluster: survivor = min partkey (its name ships
      as canonical_name), with member and distinct-name tallies.

    All-integer/string ⇒ exact hash equality. Scale: the self-join is
    block-keyed (broadcast at dim scale, shuffle-on-block-key at fact
    scale); clustering shuffles only the matched-pair graph, which
    tracks duplicate density, not catalog size."""
    from polygon_algotrading_env_spark.operators.graph import (
        hash_min_labels,
    )

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    # The size predicate is part of the JOIN KEY, not a post-join filter:
    # side a explodes to its three neighbor sizes so |size diff| <= 1
    # becomes an equi-join on (brand, noun, size). Blocking on the full
    # key domain bounds block population (and the quadratic within-block
    # pairing) by assortment density per (brand, noun, size) cell — with
    # the size left as a residual predicate, blocks grow linearly with
    # catalog scale and pairing grows quadratically (measured 7x time at
    # 10x data before this; ~linear after).
    a = parts.select(
        F.col("p_partkey").alias("u"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "noun",
        F.explode(
            F.array(
                F.col("p_size") - 1, F.col("p_size"), F.col("p_size") + 1
            )
        ).alias("probe_size"),
    )
    b = parts.select(
        F.col("p_partkey").alias("v"),
        F.col("p_name").alias("name_b"),
        F.col("p_size").alias("probe_size"),
        "p_brand",
        "noun",
    )
    pairs = (
        a.join(b, ["p_brand", "noun", "probe_size"])
        .where(
            (F.col("u") < F.col("v"))
            & (F.levenshtein("name_a", "name_b") <= 4)
        )
        .select("u", "v")
    )
    labels = hash_min_labels(pairs, src="u", dst="v", n_rounds=8)
    return (
        labels.join(
            parts.select(
                F.col("p_partkey").alias("id"), "p_name"
            ),
            "id",
        )
        .groupBy("label", "converged")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("p_name").alias("n_distinct_names"),
            F.min(
                F.when(F.col("id") == F.col("label"), F.col("p_name"))
            ).alias("canonical_name"),
        )
        .select(
            F.col("label").alias("cluster_id"),
            "n_members",
            "n_distinct_names",
            "canonical_name",
            "converged",
        )
    )


# --- Bellman-Ford cheapest supply paths (weighted BFS sibling) -------------
def _bf_oracle(n_rounds: int = 10, thresh: int = 48) -> str:
    rounds = []
    for i in range(1, n_rounds + 1):
        prev = f"a{i - 1}"
        rounds.append(f"""
    a{i} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM {prev}
        UNION ALL
        SELECT e.v AS id, x.dist + e.w AS dist
        FROM {prev} x JOIN sym e ON e.u = x.id
      ) GROUP BY id
    )""")
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT l_partkey AS u, 10000000 + l_suppkey AS v,
             51 - CAST(l_quantity AS BIGINT) AS w
      FROM lineitem WHERE l_quantity >= {thresh}
    ),
    sym AS MATERIALIZED (
      SELECT u, v, min(w) AS w FROM (
        SELECT u, v, w FROM raw
        UNION ALL
        SELECT v AS u, u AS v, w FROM raw
      ) GROUP BY u, v
    ),
    a0 AS MATERIALIZED (
      SELECT min(l_partkey) AS id, CAST(0 AS BIGINT) AS dist
      FROM lineitem WHERE l_quantity >= {thresh}
    ),{",".join(rounds)},
    conv AS (
      SELECT ((SELECT count(*) FROM a{n_rounds})
                = (SELECT count(*) FROM a{n_rounds - 1}))
             AND (SELECT count(*) FROM a{n_rounds} x
                  JOIN a{n_rounds - 1} y ON x.id = y.id
                  WHERE x.dist <> y.dist) = 0 AS converged
    )
    SELECT a.id, a.dist, conv.converged
    FROM a{n_rounds} a CROSS JOIN conv
    ORDER BY a.dist, a.id
    LIMIT 20
    """


@register("cheapest_supply_paths", oracle=_bf_oracle())
def cheapest_supply_paths(spark, sf_dir):
    """Bellman-Ford cheapest paths over the thinned part-supplier
    bipartite graph with BULK-DISCOUNT edge weights (w = 51 - quantity,
    so a 50-unit shipment is a cheaper hop than a 48-unit one; duplicate
    edges keep their min weight) — the weighted sibling of the BFS
    query: supply-chain substitution cost from the seed part, not just
    hop count. Same fixed-round recipe (10 relaxation rounds, chained
    MATERIALIZED CTEs, min-stable integer distances) with a STRONGER
    converged flag: the final round must neither reach a new vertex nor
    LOWER any distance (weighted relaxations can improve known vertices
    long after first touch). Top-20 nearest by (dist, id) — all exact
    integers ⇒ exact hash equality. Scale: per round one equi-join of
    the weighted edge relation against the reached set + one min
    aggregate; the convergence audit is a row-wise compare of the last
    two checkpointed distance relations."""
    from polygon_algotrading_env_spark.operators.graph import bellman_ford

    li = load_table(spark, sf_dir, "lineitem")
    bulk = li.where(F.col("l_quantity") >= 48)
    e = bulk.select(
        F.col("l_partkey").alias("src"),
        (F.lit(10000000) + F.col("l_suppkey")).alias("dst"),
        (F.lit(51) - F.col("l_quantity").cast("bigint")).alias("w"),
    )
    seed = bulk.agg(F.min("l_partkey")).collect()[0][0]
    out = bellman_ford(e, seeds=[seed], n_rounds=10)
    return out.orderBy("dist", "id").limit(20)


# --- HITS hubs/authorities (exact integer path counts) --------------------
_HITS_ROUNDS = 2  # h -> a -> h -> a : two full mutual-reinforcement rounds


def _hits_oracle() -> str:
    rounds = []
    for r in range(1, _HITS_ROUNDS + 1):
        prev_h = "h0" if r == 1 else f"h{r - 1}"
        rounds.append(f"""
    a{r} AS MATERIALIZED (
      SELECT e.supp AS id, sum(h.score) AS score
      FROM e JOIN {prev_h} h ON h.id = e.part GROUP BY 1
    ),
    h{r} AS MATERIALIZED (
      SELECT e.part AS id, sum(a.score) AS score
      FROM e JOIN a{r} a ON a.id = e.supp GROUP BY 1
    )""")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS part, 10000000 + l_suppkey AS supp
      FROM lineitem WHERE l_quantity >= 48
    ),
    h0 AS MATERIALIZED (
      SELECT part AS id, CAST(1 AS BIGINT) AS score FROM (
        SELECT DISTINCT part FROM e
      )
    ),{",".join(rounds)},
    ranked AS (
      SELECT 'authority' AS side, id, CAST(score AS BIGINT) AS score,
             row_number() OVER (ORDER BY score DESC, id) AS rk
      FROM a{_HITS_ROUNDS}
      UNION ALL
      SELECT 'hub' AS side, id, CAST(score AS BIGINT) AS score,
             row_number() OVER (ORDER BY score DESC, id) AS rk
      FROM h{_HITS_ROUNDS}
    )
    SELECT side, CAST(rk AS INT) AS rk, id, score
    FROM ranked WHERE rk <= 10
    """


@register("hits_part_supplier_top10", oracle=_hits_oracle())
def hits_part_supplier_top10(spark, sf_dir):
    """HITS hubs/authorities over the thinned part-supplier bipartite
    graph, UNNORMALIZED — after k mutual-reinforcement rounds a node's
    score is its exact alternating-path count (h₀ = 1), so the whole
    computation stays in BIGINT and the DuckDB chained-CTE replay is
    exact (the normalization step of textbook HITS only rescales ranks;
    dropping it trades float drift for integer equality — the BFS /
    Bellman-Ford recipe applied to eigenvector-style scoring). Emits
    the top-10 authorities (suppliers many well-connected parts buy
    from) and top-10 hubs (parts whose suppliers are themselves
    heavily bought from) with exact scores and ranks.

    Scale: per half-round one equi-join of the edge relation against
    the score relation + one hash aggregate — the PageRank shuffle
    shape without the dangling-mass scalar; score magnitude is the path
    count, bounded by n·d^(2k) — promote to DECIMAL(38,0) past ~6
    half-rounds on dense graphs."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.where(F.col("l_quantity") >= 48)
        .select(
            F.col("l_partkey").alias("part"),
            (F.lit(10000000) + F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = e.select("part").distinct().select(
        F.col("part").alias("id"), F.lit(1).cast("bigint").alias("score")
    )
    for _ in range(_HITS_ROUNDS):
        a = (
            e.join(h.select(F.col("id").alias("part"), "score"), "part")
            .groupBy("supp")
            .agg(F.sum("score").alias("score"))
            .select(F.col("supp").alias("id"), "score")
        )
        h = (
            e.join(a.select(F.col("id").alias("supp"), "score"), "supp")
            .groupBy("part")
            .agg(F.sum("score").alias("score"))
            .select(F.col("part").alias("id"), "score")
        )
    from pyspark.sql import Window

    def top10(df, side):
        # limit FIRST (TakeOrderedAndProject — per-partition heaps, no
        # global sort); the ranking window then runs on 10 rows.
        capped = df.orderBy(F.col("score").desc(), F.col("id")).limit(10)
        rk = F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("id"))
        )
        return capped.select(
            F.lit(side).alias("side"),
            rk.cast("int").alias("rk"),
            "id",
            "score",
        )

    return top10(a, "authority").unionAll(top10(h, "hub"))


# --- l-diversity audit over the k-anonymity release classes ---------------
_LDIV_BAND = (
    "CASE WHEN c_acctbal < 0 THEN 'debt' "
    "WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END"
)


@register(
    "l_diversity_release_audit",
    oracle=f"""
    WITH s AS (
      SELECT c_mktsegment, c_nationkey, {_LDIV_BAND} AS band,
             CAST(count(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(sum(cnt) AS BIGINT)   AS n,
             CAST(count(*) AS BIGINT)   AS l_count,
             round(log2(CAST(sum(cnt) AS DOUBLE))
                   - sum(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)))
                     / CAST(sum(cnt) AS DOUBLE), 6) AS entropy_bits
      FROM s GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, n, l_count, entropy_bits,
           CAST(l_count >= 3 AS BOOLEAN) AS l3_diverse
    FROM cls WHERE n >= 6
    """,
)
def l_diversity_release_audit(spark, sf_dir):
    """l-diversity audit of the k-anonymity release classes: within each
    (mktsegment, nationkey) equivalence class that k-anonymity would
    publish (n ≥ 6), how many DISTINCT sensitive values (account-balance
    band: debt / mid / high) does it contain, and with what entropy? —
    the attack k-anonymity alone misses: a class where every member
    shares one sensitive value leaks it to anyone who can place a
    person in the class. Emits per-class exact (n, l_count) BIGINTs, the
    entropy-l-diversity value in bits (≤3 addends per class — reorder
    noise ~1e-16 against the 1e-6 grid), and the l≥3 compliance flag.
    Plan: one (QI, band) hash aggregate, one class rollup — dimension
    cost regardless of fact scale, the same shape as the release
    itself."""
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    s = cust.groupBy(
        "c_mktsegment", "c_nationkey", band.alias("band")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # entropy as plain aggregates: H = log2(n) − Σ cnt·log2(cnt) / n
    # (the p·log p form needs the class total inside the sum — a nested
    # aggregate; this algebraic twin is one formula on both engines)
    cd = F.col("cnt").cast("double")
    cls = s.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("l_count"),
        F.round(
            F.log2(F.sum("cnt").cast("double"))
            - F.sum(cd * F.log2(cd)) / F.sum("cnt").cast("double"),
            6,
        ).alias("entropy_bits"),
    )
    return cls.where(F.col("n") >= 6).select(
        "c_mktsegment",
        "c_nationkey",
        "n",
        "l_count",
        "entropy_bits",
        (F.col("l_count") >= 3).alias("l3_diverse"),
    )


# --- Gini / Lorenz concentration on exact integer cents --------------------
@register(
    "gini_order_value_by_priority",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT pri, cents, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT pri, cents, c,
             sum(c) OVER (PARTITION BY pri ORDER BY cents) AS cum_le,
             sum(c) OVER (PARTITION BY pri)                AS n
      FROM g
    ),
    a AS (
      SELECT pri,
             CAST(max(n) AS BIGINT)                               AS n,
             sum(CAST(c AS HUGEINT) * cents)                      AS sum_h,
             sum(CAST(c AS HUGEINT)
                 * (2 * cum_le - c - n) * cents)                  AS num_h
      FROM cum GROUP BY 1
    )
    SELECT pri AS o_orderpriority, n,
           CAST(sum_h AS BIGINT) AS sum_cents,
           CAST(num_h AS BIGINT) AS gini_num,
           round(CAST(num_h AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sum_h AS DOUBLE)), 6) AS gini
    FROM a
    """,
)
def gini_order_value_by_priority(spark, sf_dir):
    """Gini coefficient of order value per priority class — revenue
    concentration as EXACT integer arithmetic end to end: prices land on
    the cents grid (2-decimal, exact), ranks come from the distributed
    grid machinery (operators/rankstats.py — no per-group single-task
    sort), and the tied-data Gini numerator Σ c·(cum_lt + cum_le − n)·v
    is a DECIMAL(38,0) sum of BIGINT products (the avg-rank tie
    convention, 2·avgrank = cum_lt + cum_le + 1, makes ties exact).
    gini = num / (n·Σv) is the only double — one division of exact
    integers, identical on both engines. The curation use: a mixture
    whose per-source token-count Gini drifts up is concentrating on few
    documents."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grid_rank_stats,
    )

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    stats = grid_rank_stats(v, "cents", ["pri"])
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num_term = (
        dec(F.col("c"))
        * dec(F.col("cum_lt") + F.col("cum_le") - F.col("n_g"))
        * dec(F.col("cents"))
    )
    agg = stats.groupBy("pri").agg(
        F.max("n_g").alias("n"),
        F.sum(dec(F.col("c")) * dec(F.col("cents"))).alias("__sum"),
        F.sum(num_term).alias("__num"),
    )
    return agg.select(
        F.col("pri").alias("o_orderpriority"),
        "n",
        F.expr("try_cast(__sum AS BIGINT)").alias("sum_cents"),
        F.expr("try_cast(__num AS BIGINT)").alias("gini_num"),
        F.round(
            F.col("__num").cast("double")
            / (F.col("n").cast("double") * F.col("__sum").cast("double")),
            6,
        ).alias("gini"),
    )


# --- Bloom-filter join pre-filter audit (md5 bit positions) ----------------
_BLOOM_BITS = 65536  # 2^16 bits = 2048 x 32-bit words
_BLOOM_SEGMENT = "BUILDING"


def _bloom_oracle() -> str:
    pos = (
        "(('0x' || substring(md5('{tag}|' || c_custkey), 1, 12))::BIGINT"
        f" % {_BLOOM_BITS})"
    )
    ppos = (
        "(('0x' || substring(md5('{tag}|' || o_custkey), 1, 12))::BIGINT"
        f" % {_BLOOM_BITS})"
    )
    p1, p2 = pos.format(tag="b1"), pos.format(tag="b2")
    q1, q2 = ppos.format(tag="b1"), ppos.format(tag="b2")
    return f"""
    WITH keys AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ),
    bits AS (
      SELECT {p1} AS p FROM keys UNION ALL SELECT {p2} AS p FROM keys
    ),
    bloom AS (
      SELECT p // 32 AS word, bit_or(1 << (p % 32)) AS bits
      FROM bits GROUP BY 1
    ),
    probe AS (
      SELECT o.o_custkey,
             {q1} AS p1, {q2} AS p2,
             CASE WHEN k.c_custkey IS NULL THEN 0 ELSE 1 END AS is_member
      FROM orders o LEFT JOIN keys k ON k.c_custkey = o.o_custkey
    ),
    checked AS (
      SELECT is_member,
             CASE WHEN coalesce((b1.bits >> (p1 % 32)) & 1, 0) = 1
                   AND coalesce((b2.bits >> (p2 % 32)) & 1, 0) = 1
                  THEN 1 ELSE 0 END AS claimed
      FROM probe
      LEFT JOIN bloom b1 ON b1.word = p1 // 32
      LEFT JOIN bloom b2 ON b2.word = p2 // 32
    )
    SELECT CAST(count(*) AS BIGINT)                            AS n_probe,
           CAST(sum(is_member) AS BIGINT)                      AS n_true,
           CAST(sum(claimed) AS BIGINT)                        AS n_claimed,
           CAST(sum(CASE WHEN claimed = 1 AND is_member = 0
                    THEN 1 ELSE 0 END) AS BIGINT)              AS n_false_pos,
           CAST(sum(CASE WHEN claimed = 0 AND is_member = 1
                    THEN 1 ELSE 0 END) AS BIGINT)              AS n_false_neg,
           round(CAST(sum(CASE WHEN claimed = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(count(*) - sum(is_member), 0), 6)    AS fp_rate
    FROM checked
    """


@register("bloom_join_prefilter_audit", oracle=_bloom_oracle())
def bloom_join_prefilter_audit(spark, sf_dir):
    """Bloom-filter join pre-filtering, audited end to end with exact
    integers: build a 2^16-bit / k=2 Bloom filter over one join side's
    keys (BUILDING-segment customers) as 32-bit words combined with
    bit_or, probe every orders row through two md5-derived bit
    positions, and score the filter against ground truth — n_false_neg
    MUST be exactly 0 (the Bloom guarantee, certified cross-engine) and
    fp_rate is the measured cost of the shuffle you saved. This is the
    100 TB join-planning primitive: a broadcastable word table
    pre-filters the big side scan-side before the real join pays its
    shuffle. All positions are md5 integer arithmetic; the word table is
    a 2048-row broadcast; zero floats anywhere but the final exact-count
    division."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.where(F.col("c_mktsegment") == _BLOOM_SEGMENT).select(
        "c_custkey"
    )

    def pos(tag: str, col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag + "|"), col.cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_BITS
        )

    bits = keys.select(pos("b1", F.col("c_custkey")).alias("p")).unionAll(
        keys.select(pos("b2", F.col("c_custkey")).alias("p"))
    )
    bloom = bits.groupBy(
        (F.col("p") / 32).cast("bigint").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))")
        .alias("bits")
    )
    probe = (
        orders.select(
            "o_custkey",
            pos("b1", F.col("o_custkey")).alias("p1"),
            pos("b2", F.col("o_custkey")).alias("p2"),
        )
        .join(
            F.broadcast(keys.withColumnRenamed("c_custkey", "__k")),
            F.col("__k") == F.col("o_custkey"),
            "left",
        )
        .select(
            "p1",
            "p2",
            F.when(F.col("__k").isNull(), 0).otherwise(1).alias("is_member"),
        )
    )
    b1 = bloom.select(
        F.col("word").alias("w1"), F.col("bits").alias("bits1")
    )
    b2 = bloom.select(
        F.col("word").alias("w2"), F.col("bits").alias("bits2")
    )
    set1 = F.expr(
        "coalesce(shiftright(bits1, CAST(p1 % 32 AS INT)) & 1, 0)"
    )
    set2 = F.expr(
        "coalesce(shiftright(bits2, CAST(p2 % 32 AS INT)) & 1, 0)"
    )
    checked = (
        probe.join(
            F.broadcast(b1),
            F.col("w1") == (F.col("p1") / 32).cast("bigint"),
            "left",
        )
        .join(
            F.broadcast(b2),
            F.col("w2") == (F.col("p2") / 32).cast("bigint"),
            "left",
        )
        .select(
            "is_member",
            F.when((set1 == 1) & (set2 == 1), 1)
            .otherwise(0)
            .alias("claimed"),
        )
    )
    fp = F.sum(
        ((F.col("claimed") == 1) & (F.col("is_member") == 0)).cast("bigint")
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum("is_member").cast("bigint").alias("n_true"),
        F.sum("claimed").cast("bigint").alias("n_claimed"),
        fp.alias("n_false_pos"),
        F.sum(
            ((F.col("claimed") == 0) & (F.col("is_member") == 1)).cast(
                "bigint"
            )
        ).alias("n_false_neg"),
        F.round(
            F.try_divide(
                fp.cast("double"),
                F.nullif(
                    (F.count(F.lit(1)) - F.sum("is_member")).cast("double"),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("fp_rate"),
    )


# --- Theil T / mean-log-deviation inequality (gini's entropy sibling) ------
@register(
    "theil_index_by_priority",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ),
    g AS (
      SELECT pri, cents, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2
    ),
    tot AS (
      SELECT pri, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * cents) AS BIGINT) AS sum_cents
      FROM g GROUP BY 1
    ),
    terms AS (
      SELECT g.pri, tot.n, tot.sum_cents,
             CAST(g.c AS DOUBLE)
               * (CAST(g.cents AS DOUBLE) * CAST(tot.n AS DOUBLE)
                  / CAST(tot.sum_cents AS DOUBLE))
               * ln(CAST(g.cents AS DOUBLE) * CAST(tot.n AS DOUBLE)
                    / CAST(tot.sum_cents AS DOUBLE))      AS t_term,
             CAST(g.c AS DOUBLE)
               * ln(CAST(tot.sum_cents AS DOUBLE)
                    / (CAST(g.cents AS DOUBLE) * CAST(tot.n AS DOUBLE)))
                                                          AS l_term
      FROM g JOIN tot ON g.pri = tot.pri
    )
    SELECT pri AS o_orderpriority, n, sum_cents,
           round(sum(t_term) / CAST(n AS DOUBLE), 6) AS theil_t,
           round(sum(l_term) / CAST(n AS DOUBLE), 6) AS mld
    FROM terms GROUP BY 1, 2, 3
    """,
)
def theil_index_by_priority(spark, sf_dir):
    """Theil T and mean-log-deviation (GE(1)/GE(0) entropy inequality)
    of order value per priority — Gini's decomposable sibling: unlike
    Gini, Theil splits exactly into within-group + between-group terms,
    which is how a curation pipeline attributes token-count concentration
    to sources. Grid-collapsed like the Gini plan (one hash aggregate on
    the cents grid, float work proportional to DISTINCT values), exact
    BIGINT (n, Σcents) exported, and each term is the identical scalar
    recipe r = cents·n/Σ, r·ln r (Theil) / −ln r (MLD) on both engines;
    the only reorder-sensitive float sum carries ~1e-8 noise against the
    round-6 grid."""
    v = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    g = v.groupBy("pri", "cents").agg(F.count(F.lit(1)).alias("c"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = g.groupBy("pri").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(dec(F.col("c")) * dec(F.col("cents")))
        .cast("decimal(38,0)")
        .try_cast("bigint")
        .alias("sum_cents"),
    )
    r = (
        F.col("cents").cast("double")
        * F.col("n").cast("double")
        / F.col("sum_cents").cast("double")
    )
    cd = F.col("c").cast("double")
    terms = g.join(F.broadcast(tot), "pri").select(
        "pri",
        "n",
        "sum_cents",
        (cd * r * F.log(r)).alias("t_term"),
        (cd * F.log(1.0 / r)).alias("l_term"),
    )
    return terms.groupBy("pri", "n", "sum_cents").agg(
        F.round(F.sum("t_term") / F.col("n").cast("double"), 6).alias(
            "theil_t"
        ),
        F.round(F.sum("l_term") / F.col("n").cast("double"), 6).alias("mld"),
    ).select(
        F.col("pri").alias("o_orderpriority"),
        "n",
        "sum_cents",
        "theil_t",
        "mld",
    )


# --- Herfindahl-Hirschman supplier concentration per brand ------------------
@register(
    "herfindahl_brand_suppliers",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, l.l_suppkey,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    b AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT)          AS n_suppliers,
             sum(r)                            AS total,
             sum(CAST(r AS DOUBLE) * CAST(r AS DOUBLE)) AS ss,
             max(CAST(r AS DOUBLE))            AS top_r
      FROM rev GROUP BY 1
    )
    SELECT p_brand, n_suppliers,
           round(ss / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
             AS hhi,
           round(top_r / CAST(total AS DOUBLE), 6) AS top_share
    FROM b ORDER BY p_brand
    """,
)
def herfindahl_brand_suppliers(spark, sf_dir):
    """Herfindahl-Hirschman concentration of supplier revenue within each
    part brand — the market-structure audit (HHI = Σ share², top-1
    share) a sourcing or data-mixture dashboard runs to spot single-
    supplier dependence. Revenue is the exact DECIMAL sum of
    extendedprice·(1−discount) per (brand, supplier) — one broadcast of
    the part dim onto the lineitem scan, one map-side-combined hash
    aggregate spread by supplier — and HHI/top-share are fixed scalar
    double recipes over those exact per-supplier revenues (the share
    squares sum carries ~1e-13 relative float noise, far inside
    round-6)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__r"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("__r").alias("r"))
    )
    rd = F.col("r").cast("double")
    b = rev.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("total"),
        F.sum(rd * rd).alias("ss"),
        F.max(rd).alias("top_r"),
    )
    td = F.col("total").cast("double")
    return b.select(
        "p_brand",
        "n_suppliers",
        F.round(F.col("ss") / (td * td), 6).alias("hhi"),
        F.round(F.col("top_r") / td, 6).alias("top_share"),
    ).orderBy("p_brand")


@register(
    "atkinson_index_by_priority",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ),
    g AS (
      SELECT pri, cents, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2
    ),
    a AS (
      SELECT pri,
             CAST(sum(c) AS BIGINT)           AS n,
             CAST(sum(c * cents) AS BIGINT)   AS sum_cents,
             sum(CAST(c AS DOUBLE) * ln(CAST(cents AS DOUBLE))) AS sum_ln
      FROM g GROUP BY 1
    )
    SELECT pri AS o_orderpriority, n, sum_cents,
           round(1.0 - exp(sum_ln / CAST(n AS DOUBLE))
                       * CAST(n AS DOUBLE) / CAST(sum_cents AS DOUBLE),
                 6) AS atkinson_1
    FROM a
    """,
)
def atkinson_index_by_priority(spark, sf_dir):
    """Atkinson inequality index at inequality-aversion ε = 1 — one minus
    the ratio of the geometric to the arithmetic mean of order value per
    priority, the welfare-weighted companion to the exact-cents Gini and
    the Theil pair (A(1) = 1 − e^{−MLD}, giving the census a closed
    cross-check). Grid-collapsed like its siblings: one hash aggregate on
    the cents grid, exact BIGINT (n, Σcents), a single reorder-bounded
    float sum of c·ln(cents), and the identical exp/ratio recipe on both
    engines under round-6."""
    v = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    g = v.groupBy("pri", "cents").agg(F.count(F.lit(1)).alias("c"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = g.groupBy("pri").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(dec(F.col("c")) * dec(F.col("cents")))
        .cast("decimal(38,0)")
        .try_cast("bigint")
        .alias("sum_cents"),
        F.sum(
            F.col("c").cast("double")
            * F.log(F.col("cents").cast("double"))
        ).alias("sum_ln"),
    )
    nd = F.col("n").cast("double")
    return a.select(
        F.col("pri").alias("o_orderpriority"),
        "n",
        "sum_cents",
        F.round(
            1.0
            - F.exp(F.col("sum_ln") / nd)
            * nd
            / F.col("sum_cents").cast("double"),
            6,
        ).alias("atkinson_1"),
    )
