"""Model-evaluation and feature-association metrics as exact distributed
aggregates.

A training-data pipeline is judged by the models it feeds, so the engine
needs the evaluation tier next to the curation tier: ranking quality of a
retriever (precision@k / MRR / NDCG against labels), discrimination of a
signal (tie-corrected Mann-Whitney AUC), threshold metrics (confusion
matrix / F1), decile lift tables, inter-rater agreement (Cohen's kappa),
feature association (chi-square, mutual information), and rank correlation
(tie-corrected Spearman). The reference repo scores its trading signals
downstream in pandas notebooks; here each metric is a first-class
distributed operator.

Numeric discipline (the repo-wide cross-engine contract): every COUNT-like
quantity is an exact BIGINT aggregate; every derived metric is computed
from those exact integers by a fixed sequence of scalar double operations
(cast, multiply, divide, sqrt, log2), which IEEE-754 rounds identically on
both engines — no double SUM feeds a metric except the explicitly-rounded
DCG term, whose ≤k addends keep reorder error ~1e-15 against a 1e-6 grid.

Scale notes per operator are in the docstrings; none of these shuffles
anything wider than (group, value) aggregates plus scalar/tiny broadcast
joins.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _flag(c: Column) -> Column:
    return F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("bigint")


def auc_rank_sum(
    df: DataFrame,
    score_col: str,
    positive: Column,
    keys: list[str] | None = None,
) -> DataFrame:
    """Tie-corrected Mann-Whitney AUC of ``score_col`` separating rows
    where ``positive`` holds, per key group: returns (keys..., n_pos,
    n_neg, auc_num2, auc) where ``auc_num2`` = 2·U = Σ over pairs of
    (2·[pos>neg] + 1·[tie]) — an exact BIGINT, so the hash-compared
    payload is integer and ``auc = auc_num2 / (2·n_pos·n_neg)`` is one
    deterministic double division.

    Plan: one (keys, score) hash aggregate collapses the fact table to
    its score grid, one window cumsum over that grid per group (grid
    cardinality, not row count), one final hash aggregate. At 100 TB the
    window's sort is bounded by the number of DISTINCT scores per group —
    for quantized prices/scores that is orders of magnitude below the row
    count, and partial aggregation combines map-side."""
    keys = keys or []
    pos = _flag(positive)
    grid = (
        df.select(*keys, F.col(score_col).alias("__score"), pos.alias("__p"))
        .groupBy(*keys, "__score")
        .agg(
            F.sum("__p").alias("__np"),
            F.sum(F.lit(1) - F.col("__p")).alias("__nn"),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.withColumn(
        "__cumneg", F.coalesce(F.sum("__nn").over(w), F.lit(0))
    )
    agg = cum.groupBy(*keys).agg(
        F.sum("__np").alias("n_pos"),
        F.sum("__nn").alias("n_neg"),
        F.sum(
            F.col("__np") * (2 * F.col("__cumneg") + F.col("__nn"))
        ).alias("auc_num2"),
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        "auc_num2",
        F.round(
            F.try_divide(
                F.col("auc_num2").cast("double"),
                2.0 * F.col("n_pos") * F.col("n_neg"),
            ),
            6,
        ).alias("auc"),
    )


# 1/log2(i+1) discount weights and their ideal-DCG prefix sums, emitted as
# repr'd double literals so Spark and DuckDB parse bit-identical constants.
def dcg_discounts(k: int) -> list[float]:
    return [1.0 / math.log2(i + 1) for i in range(1, k + 1)]


def idcg_prefix(k: int) -> list[float]:
    out, acc = [], 0.0
    for d in dcg_discounts(k):
        acc += d
        out.append(acc)
    return out


def label_topk_eval(
    emb: DataFrame,
    query_rows: list[tuple[int, list[float], int]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval evaluation of the exact-cosine ranker against label
    ground truth: for each (qid, qvec, qlabel) in ``query_rows``, rank all
    OTHER rows by (round(cosine,6) DESC, id) and score the top ``k`` —
    returns (qid, hits, total_rel, p_at_k, mrr, dcg, ndcg) with ``hits``
    and ``total_rel`` exact BIGINTs and the graded metrics rounded at 6dp.

    NDCG uses the STANDARD ideal normalizer: the prefix-sum discount at
    ``min(total_rel, k)`` where ``total_rel`` counts ALL relevant
    candidates for the query (not just retrieved ones) — so a query with
    one hit out of many corpus-relevant docs is penalized, unlike the
    packing-only ``idcg[hits]`` variant this replaced. ``total_rel`` is a
    column-pruned re-aggregate of the fanned relation (Catalyst drops the
    cosine arithmetic since ``score`` is unused on that branch), collapses
    map-side to |Q| rows and joins back broadcast.

    The query set enters as a CONSTANT array of structs exploded onto
    every candidate row — no join node at all, |Q|·n rows out of a single
    scan (the standard eval-harness shape: |Q| is dozens, the corpus is
    the big side); both normalizer lookups are literal prefix-sum arrays
    indexed by exact integers, so both engines divide identical doubles."""
    from polygon_algotrading_env_spark.functions.vectors import cosine
    from polygon_algotrading_env_spark.operators.similarity import _query_lit

    qstructs = [
        F.struct(
            F.lit(int(qid)).alias("qid"),
            _query_lit(qvec).alias("qvec"),
            F.lit(int(qlabel)).alias("qlabel"),
        )
        for qid, qvec, qlabel in query_rows
    ]
    fanned = (
        emb.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.col(label_col).alias("clabel"),
            F.explode(F.array(*qstructs)).alias("q"),
        )
        .where(F.col("q.qid") != F.col("cid"))
        .select(
            F.col("q.qid").alias("qid"),
            "cid",
            F.round(cosine("cvec", "q.qvec"), 6).alias("score"),
            _flag(F.col("clabel") == F.col("q.qlabel")).alias("rel"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("cid").asc()
        )
    )
    top = fanned.withColumn("rn", rn).where(F.col("rn") <= k)
    discounts = dcg_discounts(k)
    disc = F.element_at(
        F.array(*[F.lit(d) for d in discounts]), F.col("rn").cast("int")
    )
    # |Q|-row relation: per-query count of ALL relevant candidates —
    # score is unused here, so Catalyst prunes the cosine arithmetic and
    # this branch reads only (id, label).
    totals = fanned.groupBy("qid").agg(F.sum("rel").alias("total_rel"))
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in idcg_prefix(k)]),
        F.greatest(
            F.least(F.col("total_rel"), F.lit(k)), F.lit(1)
        ).cast("int"),
    )
    agg = top.groupBy("qid").agg(
        F.sum("rel").alias("hits"),
        F.round(F.sum("rel") / float(k), 6).alias("p_at_k"),
        F.round(
            F.max(F.col("rel") * (F.lit(1.0) / F.col("rn"))), 6
        ).alias("mrr"),
        F.round(F.sum(F.col("rel") * disc), 6).alias("dcg"),
        F.sum(F.col("rel") * disc).alias("__dcg_raw"),
    )
    return agg.join(F.broadcast(totals), "qid").select(
        "qid",
        "hits",
        "total_rel",
        "p_at_k",
        "mrr",
        "dcg",
        F.when(F.col("hits") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("__dcg_raw") / idcg, 6))
        .alias("ndcg"),
    )


def contingency_assoc(
    df: DataFrame, a: str, b: str, with_mi: bool = False
) -> DataFrame:
    """Contingency-table association decomposition of two categorical
    columns: per (a, b) cell returns the exact BIGINT sufficient
    statistics (o = cell count, r = row marginal, c = column marginal,
    n = total) plus:

    - ``d = n·o − r·c`` (exact BIGINT — the scaled deviation whose square
      over n·r·c is the cell's chi-square contribution), and
      ``chi2_term = d²/(n·r·c)`` as a deterministic double;
    - with ``with_mi``: ``mi_term = (o/n)·log2(n·o/(r·c))`` — the cell's
      mutual-information contribution in bits.

    Plan: one (a,b) hash aggregate over the fact table; marginals are
    cell-table aggregates re-derived FROM the cell relation (domain-sized,
    never a second fact scan) joined back broadcast. Everything after the
    first aggregate is bounded by |A|·|B|. BIGINT headroom: |d| ≤ n·max(o,
    r·c/n) ≈ n·r — fine to ~3e9 rows per marginal; beyond that promote d
    to DECIMAL(38,0)."""
    cells = df.groupBy(a, b).agg(F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy(a).agg(F.sum("o").alias("r"))
    cols = cells.groupBy(b).agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    j = (
        cells.join(F.broadcast(rows), a)
        .join(F.broadcast(cols), b)
        .crossJoin(F.broadcast(tot))
    )
    d = F.col("n") * F.col("o") - F.col("r") * F.col("c")
    out = j.select(
        a,
        b,
        "o",
        "r",
        "c",
        "n",
        d.alias("d"),
        F.round(
            F.try_divide(
                (d * d).cast("double"),
                (F.col("n") * F.col("r") * F.col("c")).cast("double"),
            ),
            6,
        ).alias("chi2_term"),
    )
    if with_mi:
        out = out.withColumn(
            "mi_term",
            F.round(
                (F.col("o").cast("double") / F.col("n"))
                * F.log2(
                    (F.col("n") * F.col("o")).cast("double")
                    / (F.col("r") * F.col("c")).cast("double")
                ),
                6,
            ),
        )
    return out


def decile_lift(
    df: DataFrame,
    score_col: str,
    positive: Column,
    n_buckets: int = 10,
) -> DataFrame:
    """Lift / capture table: rows are bucketed by exact score quantiles
    (bucket 1 = lowest scores) and each bucket reports its exact BIGINT
    (n, n_pos) plus ``rate``, ``lift`` (bucket rate over overall rate) and
    ``capture`` (share of all positives) as deterministic doubles.

    Bucket assignment is by comparison against the n_buckets−1 exact
    percentile cutoffs broadcast as one row — a scan-side expression, NOT
    a global ntile() sort (which would be a single-partition window at
    scale). The cutoffs come from the distributed grid-quantile operator
    (operators/rankstats.py) rather than ``F.percentile``, whose exact
    aggregate merges a distinct-value-sized counts map into ONE final
    buffer. Ties straddling a cutoff all land in the lower bucket, so
    bucket sizes wobble with ties but assignment is value-deterministic
    on both engines."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grouped_exact_quantiles,
    )

    cuts = grouped_exact_quantiles(
        df,
        score_col,
        [],
        [i / n_buckets for i in range(1, n_buckets)],
        [f"__c{i}" for i in range(1, n_buckets)],
    )
    pos = _flag(positive)
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        bucket = bucket + _flag(F.col(score_col) > F.col(f"__c{i}"))
    per = (
        df.select(F.col(score_col).alias(score_col), pos.alias("__p"))
        .crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), F.col("__p"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__p").alias("n_pos"))
    )
    tot = per.agg(
        F.sum("n").alias("__tn"), F.sum("n_pos").alias("__tpos")
    )
    rate = F.col("n_pos").cast("double") / F.col("n")
    overall = F.col("__tpos").cast("double") / F.col("__tn")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n",
            "n_pos",
            F.round(rate, 6).alias("rate"),
            F.round(F.try_divide(rate, overall), 6).alias("lift"),
            F.round(
                F.try_divide(
                    F.col("n_pos").cast("double"), F.col("__tpos")
                ),
                6,
            ).alias("capture"),
        )
    )


def confusion_at_threshold(
    df: DataFrame,
    score_col: str,
    positive: Column,
    threshold: Column | None = None,
    quantile: float = 0.5,
) -> DataFrame:
    """Binary-classifier threshold metrics: predict positive where
    ``score > threshold`` (default: the exact score ``quantile``) and
    return one row of exact BIGINT tp/fp/fn/tn plus precision / recall /
    f1 / accuracy as deterministic doubles from those integers.

    The threshold is a one-row broadcast (computed by the distributed
    grid-quantile operator, not ``F.percentile``'s single final counts
    buffer); the counts are a single scan-side conditional aggregate —
    no wide shuffle."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grouped_exact_quantiles,
    )

    if threshold is None:
        thr = grouped_exact_quantiles(
            df, score_col, [], [quantile], ["__thr"]
        )
        base = df.crossJoin(F.broadcast(thr))
        thr_col = F.col("__thr")
    else:
        base = df
        thr_col = threshold
    p = positive
    pred = F.col(score_col) > thr_col
    agg = base.agg(
        F.sum(_flag(pred & p)).alias("tp"),
        F.sum(_flag(pred & ~p)).alias("fp"),
        F.sum(_flag(~pred & p)).alias("fn"),
        F.sum(_flag(~pred & ~p)).alias("tn"),
    )
    prec = F.try_divide(
        F.col("tp").cast("double"), F.col("tp") + F.col("fp")
    )
    rec = F.try_divide(
        F.col("tp").cast("double"), F.col("tp") + F.col("fn")
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(F.try_divide(2.0 * prec * rec, prec + rec), 6).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


def cohens_kappa(
    df: DataFrame, rater_a: Column, rater_b: Column
) -> DataFrame:
    """Inter-rater agreement between two boolean raters: one row of the
    exact BIGINT 2×2 agreement counts (n11, n10, n01, n00) plus observed
    agreement ``po``, chance agreement ``pe`` and Cohen's kappa — all
    deterministic doubles from the exact integers. One conditional
    aggregate over a single scan."""
    a, b = rater_a, rater_b
    agg = df.agg(
        F.sum(_flag(a & b)).alias("n11"),
        F.sum(_flag(a & ~b)).alias("n10"),
        F.sum(_flag(~a & b)).alias("n01"),
        F.sum(_flag(~a & ~b)).alias("n00"),
    )
    n = (
        F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    ).cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ).cast("double") / (n * n)
    return agg.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(F.try_divide(po - pe, 1.0 - pe), 6).alias("kappa"),
    )


def spearman_by_group(
    df: DataFrame, x: str, y: str, keys: list[str], mode: str = "zoned"
) -> DataFrame:
    """Tie-corrected Spearman rank correlation of two numeric columns per
    key group: ranks use the average-rank convention encoded EXACTLY as
    the integer ``2·avgrank = cnt_lt + cnt_le + 1`` (strictly-below count
    plus at-or-below count plus one), so the five rank moments (sx, sy,
    sxx, syy, sxy) are exact integer aggregates and ``rho = (n·sxy −
    sx·sy) / (√(n·sxx − sx²)·√(n·syy − sy²))`` is a fixed scalar double
    recipe both engines evaluate identically (integer→double casts
    round-to-nearest the same way).

    Plan (scale shape): the fact table is never shuffled at full width
    and no window ever partitions on the ~4-value group key alone. The
    x-coordinate's rank map — its ``(keys, x)`` grid with distributed
    cumulative counts from the zoned prefix-sum machinery in
    ``operators/rankstats.py`` — is BROADCAST back onto the fact scan
    (pass the coarser-valued coordinate as ``x``; rho is symmetric, so
    swap arguments if y is the coarse one). The x-moments (sx, sxx) and
    group sizes come from the tiny x-grid ALONE; the y-moments (sy, syy)
    from the y-grid alone; only the cross-moment sxy touches fact rows,
    and only as ONE decimal sum in the map-side-combined hash aggregate
    that collapses the fact to its ``(keys, y)`` relation carrying
    t = Σrx per cell (sxy = Σ ry·t). The y-ranks come from one more
    zoned prefix-sum over that relation.
    Moments accumulate as DECIMAL(38,0) — exact to ~1e12 rows/group (the
    old all-BIGINT pipeline capped at n ≈ 1.3e6 because sxy ≤ n·(2n)²) —
    and are EXPORTED as BIGINT sufficient statistics via try_cast: past
    ~1.3e6 rows/group the export columns go NULL (DuckDB's pandas bridge
    degrades DECIMAL(38,0) to float64, so exporting decimals would break
    the cross-engine hash) while rho itself stays exact, derived from
    the decimal accumulators."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        cumulate_grid,
    )

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    if mode == "global":
        # Adaptive small-input shape (zonedroll.zoning_mode): below the
        # row threshold the textbook per-group rank windows beat the
        # grid's fixed costs (range exchanges + checkpoint pins). The
        # rank encoding is the IDENTICAL exact integer
        # 2*avgrank = 2*rank + count(same value) - 1 = cnt_lt+cnt_le+1,
        # so moments and rho match the grid path bit-for-bit.
        wx = Window.partitionBy(*keys).orderBy(x)
        wy = Window.partitionBy(*keys).orderBy(y)
        cx = Window.partitionBy(*keys, x)
        cy = Window.partitionBy(*keys, y)
        r = df.select(
            *keys,
            (
                2 * F.rank().over(wx) + F.count(F.lit(1)).over(cx) - 1
            ).alias("rx"),
            (
                2 * F.rank().over(wy) + F.count(F.lit(1)).over(cy) - 1
            ).alias("ry"),
        )
        rxd, ryd = dec(F.col("rx")), dec(F.col("ry"))
        agg = r.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(rxd).alias("__sx"),
            F.sum(ryd).alias("__sy"),
            F.sum(rxd * rxd).alias("__sxx"),
            F.sum(ryd * ryd).alias("__syy"),
            F.sum(rxd * ryd).alias("__sxy"),
        )
        return _spearman_export(agg, keys)
    xm = df.groupBy(*keys, x).agg(F.count(F.lit(1)).alias("cx"))
    xs = cumulate_grid(xm, keys, x, "cx").withColumn(
        "rx", F.col("cum_lt") + F.col("cum_le") + 1
    )
    rxd, cxd = dec(F.col("rx")), dec(F.col("cx"))
    xagg = xs.groupBy(*keys).agg(
        F.sum("cx").alias("n"),
        F.sum(cxd * rxd).alias("__sx"),
        F.sum(cxd * rxd * rxd).alias("__sxx"),
    )
    # One exchange for the whole y side: range-partition the rank-mapped
    # fact by (keys, y) ONCE — the (keys, y) aggregate runs unshuffled on
    # it (range partitioning satisfies its clustering) and the zoned
    # cumulation reuses the same layout via pre_partitioned. y is the
    # fine coordinate (grid ≈ fact size), so the hash-collapse exchange
    # this replaces moved as many rows as the range exchange itself —
    # the shave that returns the small-SF constant the r9 rewrite paid.
    yrel = (
        df.select(*keys, x, y)
        .join(F.broadcast(xs.select(*keys, x, "rx")), [*keys, x])
        .select(*keys, y, "rx")  # x served the rank lookup; never shuffle it
        .repartitionByRange(*keys, y)
        .groupBy(*keys, y)
        .agg(
            F.count(F.lit(1)).alias("cy"),
            F.sum(dec(F.col("rx"))).alias("t"),
        )
    )
    ys = cumulate_grid(yrel, keys, y, "cy", pre_partitioned=True)
    ryd = dec(F.col("cum_lt") + F.col("cum_le") + 1)
    cyd = dec(F.col("cy"))
    yagg = ys.groupBy(*keys).agg(
        F.sum(cyd * ryd).alias("__sy"),
        F.sum(cyd * ryd * ryd).alias("__syy"),
        F.sum(ryd * F.col("t")).alias("__sxy"),
    )
    agg = xagg.join(yagg, keys)
    return _spearman_export(agg, keys)


def _spearman_export(agg: DataFrame, keys: list[str]) -> DataFrame:
    """Shared moment->rho export: one fixed scalar double recipe over the
    exact DECIMAL(38,0) accumulators, BIGINT sufficient statistics via
    try_cast (NULL past ~1.3e6 rows/group; rho stays exact)."""
    nd = F.col("n").cast("double")
    num = nd * F.col("__sxy").cast("double") - F.col("__sx").cast(
        "double"
    ) * F.col("__sy").cast("double")
    denx = nd * F.col("__sxx").cast("double") - F.col("__sx").cast(
        "double"
    ) * F.col("__sx").cast("double")
    deny = nd * F.col("__syy").cast("double") - F.col("__sy").cast(
        "double"
    ) * F.col("__sy").cast("double")
    return agg.select(
        *keys,
        F.col("n").cast("bigint").alias("n"),
        F.expr("try_cast(__sx AS BIGINT)").alias("sx"),
        F.expr("try_cast(__sy AS BIGINT)").alias("sy"),
        F.expr("try_cast(__sxx AS BIGINT)").alias("sxx"),
        F.expr("try_cast(__syy AS BIGINT)").alias("syy"),
        F.expr("try_cast(__sxy AS BIGINT)").alias("sxy"),
        F.round(
            F.try_divide(num, F.sqrt(denx) * F.sqrt(deny)), 6
        ).alias("rho"),
    )


def fairness_gaps(
    df: DataFrame,
    score_col: str,
    positive: Column,
    segment_col: str,
    quantile: float = 0.5,
) -> DataFrame:
    """Group-fairness audit of a thresholded classifier across a
    protected/segment column: per segment the exact BIGINT confusion
    counts plus positive-prediction rate (demographic parity), TPR and
    FPR (equalized odds), and each rate's GAP against the overall rate —
    all deterministic doubles from the exact integers. The threshold is
    the exact score ``quantile`` over the whole relation (one-row
    broadcast), so every segment is scored against the same decision
    rule. The curation use: a quality gate whose pass rate collapses for
    one language/source segment is a dataset bias about to be trained
    in.

    Plan: threshold broadcast (distributed grid-quantile operator, not
    ``F.percentile``'s single final counts buffer) → one conditional
    (segment) hash aggregate over a single scan → segment-cardinality
    relation re-aggregated for the overall rates and broadcast back.
    Nothing wider than the segment domain shuffles."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grouped_exact_quantiles,
    )

    thr = grouped_exact_quantiles(df, score_col, [], [quantile], ["__thr"])
    p = positive
    pred = F.col(score_col) > F.col("__thr")
    per = (
        df.crossJoin(F.broadcast(thr))
        .groupBy(segment_col)
        .agg(
            F.sum(_flag(pred & p)).alias("tp"),
            F.sum(_flag(pred & ~p)).alias("fp"),
            F.sum(_flag(~pred & p)).alias("fn"),
            F.sum(_flag(~pred & ~p)).alias("tn"),
        )
    )
    tot = per.agg(
        F.sum("tp").alias("__ttp"),
        F.sum("fp").alias("__tfp"),
        F.sum("fn").alias("__tfn"),
        F.sum("tn").alias("__ttn"),
    )
    n = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    ppr = (F.col("tp") + F.col("fp")).cast("double") / n
    tpr = F.try_divide(F.col("tp").cast("double"), F.col("tp") + F.col("fn"))
    fpr = F.try_divide(F.col("fp").cast("double"), F.col("fp") + F.col("tn"))
    tn_all = (
        F.col("__ttp") + F.col("__tfp") + F.col("__tfn") + F.col("__ttn")
    )
    ppr_o = (F.col("__ttp") + F.col("__tfp")).cast("double") / tn_all
    tpr_o = F.try_divide(
        F.col("__ttp").cast("double"), F.col("__ttp") + F.col("__tfn")
    )
    fpr_o = F.try_divide(
        F.col("__tfp").cast("double"), F.col("__tfp") + F.col("__ttn")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        segment_col,
        n.alias("n"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(ppr, 6).alias("ppr"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(ppr - ppr_o, 6).alias("dp_gap"),
        F.round(tpr - tpr_o, 6).alias("tpr_gap"),
        F.round(fpr - fpr_o, 6).alias("fpr_gap"),
    )
