"""End-to-end pipelines mirroring the reference's three entry points
(SURVEY.md §3) — the "a reference user could switch" surface.

- :func:`refresh_reference_data` ≙ entry point A/C: paginated dimension
  fetch → dedup → latest+history lake write
  (``polygon-etl-container/src/main.py:31-33`` →
  ``reference_endpoints_etl.py:28-64``;
  ``v2022/.../reference_data_etl.py:36-67``).
- :func:`ingest_aggregates` ≙ entry point B: per-symbol incremental candle
  ingest with watermark resume, monotonic dedup, bronze landing, silver
  partitioned write (``airflow-dags/dag_aggregates_etl.py`` watermark dance
  + ``v2022/.../aggregates_etl.py:89-167``) — except the watermark is a
  bookmark table and the "plan serialization" is Spark's own, not ECS env
  vars.
- :func:`build_gold_bars` ≙ the delegated analytics: bars ladder +
  indicators + adjusted series (the work the reference outsourced to
  Polygon's aggregation and absent Databricks jobs).

Network fetch is injected (``fetch_page(symbol, from_date) -> dict``);
everything after landing is distributed DataFrame work.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from polygon_algotrading_env_spark.operators.adjust import adjust_prices
from polygon_algotrading_env_spark.operators.bars import ohlcv_bars, resample_bars
from polygon_algotrading_env_spark.operators.dedup import dedup_keep_first, exact_dedup
from polygon_algotrading_env_spark.operators.indicators import with_returns, with_sma
from polygon_algotrading_env_spark.sources.bookmarks import BookmarkStore
from polygon_algotrading_env_spark.sources.readers import (
    land_records,
    paginate_date_cursor,
    paginate_next_url,
)
from polygon_algotrading_env_spark.sources.writers import (
    dual_write_latest_history,
    write_bronze,
    write_partitioned,
)

CANDLE_SCHEMA = (
    "ticker string, t long, o double, h double, l double, c double, "
    "v double, vw double, n long"
)


def refresh_reference_data(
    spark: SparkSession,
    fetch: Callable[[str | None], dict],
    schema: str,
    latest_path: str,
    history_path: str,
    snapshot_id: str,
) -> DataFrame:
    """Dimension refresh: paginate → dedup → dual write → return the dim.

    Matches A/C semantics: full refresh each run, duplicates from page
    overlap dropped, history snapshot retained.
    """
    records = list(paginate_next_url(fetch))
    dim = exact_dedup(land_records(spark, records, schema))
    dim = dim.withColumn("ingest_ts", F.current_timestamp())
    dual_write_latest_history(dim, latest_path, history_path, snapshot_id)
    return dim


def ingest_aggregates(
    spark: SparkSession,
    symbols: Sequence[str],
    fetch_page: Callable[[str, str], dict] | None,
    lake_root: str,
    start_date: str,
    end_date: str,
    adjusted: bool = True,
    page_limit: int = 50_000,
    page_store: str | None = None,
) -> DataFrame:
    """Incremental candle ingest for a symbol set.

    Per symbol: resume from the bookmark watermark, pull pages with the
    date-cursor scan (overlap/monotonic guards), land to bronze, then
    per-(ticker, t) dedup → silver partitioned by (adjusted, ticker).
    Returns the silver increment.

    Two ingestion routes share the publish tail:

    - ``fetch_page`` (default): the driver-paced API loop — right for the
      rate-limited daily increment, where the API (50k rows/s/worker
      ceiling, reference README.md:20) is the bottleneck, not the driver.
    - ``page_store``: LARGE BACKFILLS. Pages already landed under
      ``{store}/{symbol}/page-N.json`` (flat-file dumps, an HTTP shim) are
      read by the distributed ``PolygonPagesDataSource`` — whole symbols
      packed into a few tasks, per-symbol bookmark watermarks shipped to
      executors as a serialized option, no driver-side row list. A month
      × 5000-ticker backfill never fits a driver list; this route is why.
    """
    store = BookmarkStore(f"{lake_root}/bookmarks", key_cols=["ticker", "adjusted"])
    bookmarks = store.load(spark)
    wm_by_symbol: dict[str, int] = {}
    if bookmarks is not None:
        for r in bookmarks.filter(F.col("adjusted") == adjusted).collect():
            wm_by_symbol[r["ticker"]] = r["max_ts"]

    if page_store is not None:
        import json as _json

        from polygon_algotrading_env_spark.sources.restsource import (
            PolygonPagesDataSource,
        )

        spark.dataSource.register(PolygonPagesDataSource)
        landed = (
            spark.read.format("polygon_pages")
            .option("path", page_store)
            .option("symbols", ",".join(symbols))
            .option("lastentrybysymbol", _json.dumps(wm_by_symbol))
            .load()
            .withColumn("adjusted", F.lit(adjusted))
        )
        if landed.isEmpty():
            return landed
    else:
        if fetch_page is None:
            raise ValueError("provide fetch_page (API loop) or page_store (backfill)")
        all_rows: list[dict] = []
        for sym in symbols:  # API-bound loop: the reference's fan-out (J1)
            rows = paginate_date_cursor(
                lambda from_date, sym=sym: fetch_page(sym, from_date),
                start_date,
                end_date,
                limit=page_limit,
                last_entry_ts=wm_by_symbol.get(sym),
            )
            all_rows.extend({**r, "ticker": sym} for r in rows)

        if not all_rows:
            return spark.createDataFrame([], CANDLE_SCHEMA).withColumn(
                "adjusted", F.lit(adjusted)
            )
        landed = land_records(spark, all_rows, CANDLE_SCHEMA).withColumn(
            "adjusted", F.lit(adjusted)
        )

    write_bronze(landed, f"{lake_root}/bronze/candles")

    silver = dedup_keep_first(landed, keys=["ticker", "adjusted", "t"], order_col="t")
    write_partitioned(silver, f"{lake_root}/silver/candles", ["adjusted", "ticker"])
    store.update(landed, "t")
    return silver


def build_gold_bars(
    candles: DataFrame,
    actions: DataFrame | None = None,
    resolutions: Sequence[str] = ("5 minutes", "1 hour", "1 day"),
    sma_window: int = 20,
) -> dict[str, DataFrame]:
    """Gold layer: bar ladder + indicators (+ adjusted prices if actions
    given) from silver candles with columns (ticker, t, o,h,l,c,v, ts).

    The ladder reuses each finer resolution (resample, not re-scan) —
    old_source_op.py:18's 1m→…→1d period list, computed once from ticks.
    """
    out: dict[str, DataFrame] = {}
    base = ohlcv_bars(
        candles,
        ts_col="ts",
        price_col="c",
        duration=resolutions[0],
        keys=("ticker",),
        volume_col="v",
        order_col="t",
    )
    out[resolutions[0]] = base
    prev = base
    for res in resolutions[1:]:
        prev = resample_bars(prev, res, keys=("ticker",))
        out[res] = prev

    enriched = with_sma(
        base, "close", sma_window, keys=["ticker"], order_cols=["bucket_start"]
    )
    enriched = with_returns(enriched, "close", ["ticker"], ["bucket_start"])
    out["indicators"] = enriched

    if actions is not None:
        out["adjusted"] = adjust_prices(
            base.withColumn("ts", F.col("bucket_start")),
            actions,
            price_cols=("open", "high", "low", "close"),
        )
    return out


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_space_ratio: float = 0.5,
    max_digit_ratio: float = 0.3,
    jaccard_num: int = 1,
    jaccard_den: int = 2,
    token_budget: int = 4096,
    quality_col: str | None = None,
    rarity_model: DataFrame | None = None,
    rarity_model_path: str | None = None,
) -> dict[str, DataFrame]:
    """The LLM-training-data curation pipeline, end to end (the extension
    north star composed from its certified parts):

    1. per-doc text analysis (tokens/quality features) — one projection;
    2. quality gate (min tokens, whitespace/digit ceilings);
    3. corpus-rarity scoring (CCNet-style) against a document-frequency
       model — an external reference model (``rarity_model``), a silver
       table (``rarity_model_path``: built from the gated corpus and
       WRITTEN ONCE if absent, then read back — so self-scoring never
       re-explodes the corpus for the model side), or in-memory
       self-scoring when neither is given;
    4. MinHash+LSH near-dup candidates with EXACT n-gram verification at
       ``jaccard >= jaccard_num/jaccard_den`` (integer comparison);
    5. pair→cluster connected components + best-quality survivors;
    6. deduplicated corpus = gate survivors ∩ cluster survivors;
    7. deterministic train/val/test hash split;
    8. greedy context-window packing of the train split.

    Returns every intermediate stage so callers can persist any of them as
    silver tables; nothing else is materialized here (the rarity model is
    the exception, by request via ``rarity_model_path``). Shuffle ledger:
    gate is shuffle-free; rarity = one exploded-token shuffle vs the model;
    dedup = signature scan + one band-key shuffle + bounded verify join;
    clustering shuffles only the (tiny) pair graph; split is a projection;
    packing shuffles once on the split key.
    """
    from polygon_algotrading_env_spark.functions.text import quality_features
    from polygon_algotrading_env_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_overlap_pairs,
    )
    from polygon_algotrading_env_spark.operators.graph import (
        cluster_survivors,
        connected_components,
    )
    from polygon_algotrading_env_spark.operators.sampling import (
        hash_split,
        pack_by_token_budget,
    )

    feats = quality_features(F.col(text_col))
    analyzed = docs.select(
        "*",
        feats["n_tokens"].cast("int").alias("__n_tokens"),
        feats["space_ratio"].alias("__space_ratio"),
        feats["digit_ratio"].alias("__digit_ratio"),
    )
    gated = analyzed.filter(
        (F.col("__n_tokens") >= min_tokens)
        & (F.col("__space_ratio") <= max_space_ratio)
        & (F.col("__digit_ratio") <= max_digit_ratio)
    )

    from polygon_algotrading_env_spark.operators.corpus import (
        doc_rarity_scores,
        token_doc_frequency,
    )

    model = rarity_model
    if model is None and rarity_model_path is not None:
        from polygon_algotrading_env_spark.fsutil import hadoop_path_exists

        spark = docs.sparkSession
        # Explicit absence probe (never `except Exception` around the read:
        # a transient failure must propagate, not silently rebuild).
        if not hadoop_path_exists(spark, rarity_model_path):
            token_doc_frequency(
                gated, id_col=id_col, text_col=text_col
            ).write.parquet(rarity_model_path)
        model = spark.read.parquet(rarity_model_path)
    rarity = doc_rarity_scores(gated, model=model, id_col=id_col, text_col=text_col)

    cands = minhash_candidate_pairs(
        gated, id_col=id_col, text_col=text_col
    ).select("id_a", "id_b")
    verified = ngram_overlap_pairs(cands, gated, id_col=id_col, text_col=text_col)
    near_dups = verified.filter(
        jaccard_den * F.col("n_common") >= jaccard_num * F.col("n_union")
    )

    labels = connected_components(
        near_dups, src="id_a", dst="id_b", vertices=gated, id_col=id_col
    )
    survivors = cluster_survivors(
        gated, labels, id_col=id_col,
        quality_col=quality_col or "__n_tokens",
    )
    deduped = gated.join(
        survivors.select(F.col("survivor_doc_id").alias(id_col)), id_col
    )

    split = hash_split(deduped, id_col)
    packed = pack_by_token_budget(
        split.filter(F.col("split") == "train"),
        token_col="__n_tokens",
        budget=token_budget,
        order_col=id_col,
    )
    return {
        "analyzed": analyzed,
        "gated": gated,
        "rarity": rarity,
        "near_dup_pairs": near_dups,
        "clusters": labels,
        "survivors": survivors,
        "deduped": deduped,
        "split": split,
        "packed_train": packed,
    }


def research_pack(
    bars: DataFrame,
    out_root: str | None = None,
    spark=None,
    sma_fast: int = 10,
    sma_slow: int = 30,
) -> dict[str, DataFrame]:
    """Research gold pack: signals → positions → per-bar P&L → equity →
    per-symbol scorecard from ONE bar relation, every stage sharing the
    per-symbol partitioning (the whole pack is one exchange family — the
    same plan discipline sma_crossover_backtest_5m certifies).

    ``bars`` needs (event_type, bucket_start, close). With ``out_root``
    (and the owning ``spark``), each layer also lands as a versioned
    table (sources/versioned.py) so the pack is time-travelable and its
    change feed drives incremental consumers — the batch counterpart of
    the streaming pipeline's bronze→silver flow.
    """
    from polygon_algotrading_env_spark.operators.backtest import (
        equity_curve,
        sma_crossover_backtest,
    )

    bt = sma_crossover_backtest(bars, fast=sma_fast, slow=sma_slow)
    eq = equity_curve(bt)
    score = eq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.round(F.max_by("cum_pnl", "bucket_start"), 6).alias("final_equity"),
        F.round(F.max("drawdown"), 6).alias("max_drawdown"),
        F.round(
            F.avg("pnl") / F.nullif(F.stddev_samp("pnl"), F.lit(0)), 6
        ).alias("sharpe_bar"),
    )
    out = {"backtest": bt, "equity": eq, "scorecard": score}
    if out_root is not None:
        if spark is None:
            raise ValueError("research_pack: out_root requires spark")
        from polygon_algotrading_env_spark.sources.versioned import (
            VersionedTable,
        )

        for name, df in out.items():
            VersionedTable(spark, f"{out_root}/{name}").write(
                df, mode="overwrite"
            )
    return out
