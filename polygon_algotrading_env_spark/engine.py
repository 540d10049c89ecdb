"""The user-facing facade: one object tying sources → silver → gold →
analytics together (the "switch from the reference" surface).

A reference user's workflow maps 1:1:

    reference (Airflow/ECS/pandas)              engine
    ------------------------------------------  ---------------------------
    dag_reference_data_etl_* daily refresh      eng.refresh_dimension(...)
    dag_aggregates_etl watermark dance + ECS    eng.ingest_candles(...)
    Polygon 'aggregates' API bar resolutions    eng.bars(df, '5 minutes')
    Polygon adjusted=true                       eng.adjust(candles, splits)
    absent Databricks analytics                 eng.indicators / eng.dedup_corpus
                                                / eng.search / registry queries

Everything returns DataFrames; nothing is materialized unless you write.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from polygon_algotrading_env_spark import catalog, pipelines
from polygon_algotrading_env_spark.operators import adjust as _adjust
from polygon_algotrading_env_spark.operators import bars as _bars
from polygon_algotrading_env_spark.operators import dedup as _dedup
from polygon_algotrading_env_spark.operators import similarity as _sim
from polygon_algotrading_env_spark.session import ensure_runtime_confs, get_spark


class Engine:
    def __init__(self, spark: SparkSession | None = None, lake_root: str | None = None):
        self.spark = ensure_runtime_confs(spark or get_spark())
        self.lake_root = lake_root

    # -- catalog ----------------------------------------------------------
    def table(self, name: str, sf_dir: str = catalog.DEFAULT_SF_DIR) -> DataFrame:
        return catalog.load_table(self.spark, sf_dir, name)

    def register_views(self, sf_dir: str = catalog.DEFAULT_SF_DIR) -> None:
        catalog.register_views(self.spark, sf_dir)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- ingest (reference entry points A/B/C) ----------------------------
    def refresh_dimension(self, fetch, schema: str, name: str, snapshot_id: str):
        root = self._root()
        return pipelines.refresh_reference_data(
            self.spark, fetch, schema,
            f"{root}/dims/{name}/latest", f"{root}/dims/{name}/history",
            snapshot_id,
        )

    def ingest_candles(
        self, symbols: Sequence[str], fetch_page, start_date: str, end_date: str,
        adjusted: bool = True, page_store: str | None = None,
    ) -> DataFrame:
        """Incremental candle ingest. ``fetch_page`` drives the API-paced
        driver loop; pass ``page_store`` instead to route a landed
        backfill through the distributed page reader (``fetch_page=None``
        is then fine)."""
        return pipelines.ingest_aggregates(
            self.spark, symbols, fetch_page, self._root(), start_date, end_date,
            adjusted=adjusted, page_store=page_store,
        )

    # -- gold-layer analytics --------------------------------------------
    def bars(self, ticks: DataFrame, duration: str, **kw) -> DataFrame:
        kw.setdefault("ts_col", "ts")
        kw.setdefault("price_col", "c")
        kw.setdefault("keys", ("ticker",))
        return _bars.ohlcv_bars(ticks, duration=duration, **kw)

    def resample(self, bars: DataFrame, duration: str, keys=("ticker",)) -> DataFrame:
        return _bars.resample_bars(bars, duration, keys=keys)

    def adjust(self, candles: DataFrame, actions: DataFrame, **kw) -> DataFrame:
        return _adjust.adjust_prices(candles, actions, **kw)

    def gold(self, candles: DataFrame, **kw) -> dict[str, DataFrame]:
        return pipelines.build_gold_bars(candles, **kw)

    # -- corpus dedup / similarity (extension surface) --------------------
    def dedup_corpus(
        self, docs: DataFrame, method: str = "minhash", **kw
    ) -> DataFrame:
        """Candidate near-duplicate pairs by ``method``:
        'exact' (keyed survivor rows), 'minhash' (whole-doc similarity),
        'winnow' (shared regions), or 'jaccard' (exact verification of
        minhash candidates)."""
        if method == "exact":
            return _dedup.dedup_keep_first(
                docs, keys=kw.pop("keys", ["text"]), order_col=kw.pop("order_col", "doc_id")
            )
        if method == "minhash":
            return _dedup.minhash_candidate_pairs(docs, **kw)
        if method == "winnow":
            return _dedup.winnow_candidate_pairs(docs, **kw)
        if method == "jaccard":
            cands = _dedup.minhash_candidate_pairs(docs).select("id_a", "id_b")
            return _dedup.ngram_jaccard_pairs(cands, docs, **kw)
        raise ValueError(f"unknown dedup method: {method!r}")

    def search(
        self, embeddings: DataFrame, query_vec: list[float], k: int = 10,
        method: str = "exact", **kw,
    ) -> DataFrame:
        """Top-k similarity search: 'exact' scan, 'lsh' (SRP buckets), or
        'ivf' (k-means cells; trains a quantizer unless ``centroids``
        passed)."""
        if method == "exact":
            return _sim.cosine_topk(embeddings, query_vec, k=k, **kw)
        if method == "lsh":
            return _sim.lsh_ann_topk(embeddings, query_vec, k=k, **kw)
        if method == "ivf":
            cents = kw.pop("centroids", None)
            if cents is None:
                cents = _sim.ivf_centroids(embeddings, **{
                    key: kw.pop(key) for key in list(kw) if key in ("n_centroids", "seed")
                })
            return _sim.ivf_topk(embeddings, query_vec, cents, k=k, **kw)
        raise ValueError(f"unknown search method: {method!r}")

    def text_search(
        self, docs: DataFrame, query_terms, k: int = 10, **kw
    ) -> DataFrame:
        """Lexical BM25 top-k over a document table (the keyword baseline
        next to :meth:`search`'s embedding path). Pass ``tf_table`` to
        probe a materialized inverted index."""
        from polygon_algotrading_env_spark.operators.retrieval import bm25_scores

        scored = bm25_scores(docs, query_terms, **kw)
        return scored.orderBy(F.desc("score"), "id").limit(k)

    def refresh_view(self, table, view_root: str, **kw) -> int | None:
        """Bring an incremental materialized OHLCV view up to the
        versioned table's latest commit (operators/incremental.py) —
        delta-only aggregation, touched-bucket re-merge."""
        from polygon_algotrading_env_spark.operators.incremental import (
            refresh_bar_view,
        )

        return refresh_bar_view(self.spark, table, view_root, **kw)

    def read_view(self, view_root: str) -> DataFrame:
        from polygon_algotrading_env_spark.operators.incremental import (
            read_bar_view,
        )

        return read_bar_view(self.spark, view_root)

    def ordinals(self, df: DataFrame, order_cols, **kw) -> DataFrame:
        """Global row numbers under a total order without a one-partition
        sort (operators/ids.py two-phase zipWithIndex)."""
        from polygon_algotrading_env_spark.operators.ids import with_global_ordinals

        return with_global_ordinals(df, order_cols, **kw)

    def cluster_duplicates(
        self, docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
        quality_col: str | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Pair→group: connected components over candidate pairs, plus the
        per-cluster survivor table. Returns (labels, survivors)."""
        from polygon_algotrading_env_spark.operators.graph import (
            cluster_survivors,
            connected_components,
        )

        labels = connected_components(
            pairs, src="id_a", dst="id_b", vertices=docs, id_col=id_col
        )
        return labels, cluster_survivors(
            docs, labels, id_col=id_col, quality_col=quality_col
        )

    def split(self, df: DataFrame, key_col: str, **kw) -> DataFrame:
        """Deterministic train/val/test assignment by content hash."""
        from polygon_algotrading_env_spark.operators.sampling import hash_split

        return hash_split(df, key_col, **kw)

    def backtest(self, bars: DataFrame, **kw) -> dict[str, DataFrame]:
        """SMA-crossover backtest over (key, ts, price) bars: per-bar
        signals/P&L, round-trip trades, and the equity curve."""
        from polygon_algotrading_env_spark.operators import backtest as _bt

        keys = {k: kw[k] for k in ("key_col", "ts_col") if k in kw}
        bt = _bt.sma_crossover_backtest(bars, **kw)
        return {
            "bars": bt,
            "trades": _bt.extract_trades(bt, **keys),
            "equity": _bt.equity_curve(bt, **keys),
        }

    def versioned_table(self, root: str):
        """Manifest-based versioned table handle (time travel, change
        feed, rollback, vacuum)."""
        from polygon_algotrading_env_spark.sources.versioned import VersionedTable

        return VersionedTable(self.spark, root)

    def asof(self, left: DataFrame, right: DataFrame, **kw) -> DataFrame:
        """As-of join; pass ``chunk_seconds=`` to switch to the
        hot-key-safe chunked plan (identical results)."""
        from polygon_algotrading_env_spark.operators import asof as _asof

        if kw.get("chunk_seconds"):
            return _asof.asof_join_chunked(left, right, **kw)
        kw.pop("chunk_seconds", None)
        return _asof.asof_join(left, right, **kw)

    def band_join(self, left: DataFrame, right: DataFrame, **kw) -> DataFrame:
        """Range join within [low, high] of the left value — bucket-and-
        prune plan, never a nested-loop join."""
        from polygon_algotrading_env_spark.operators.rangejoin import band_join

        return band_join(left, right, **kw)

    def write_zordered(self, df: DataFrame, path: str, cols, **kw) -> None:
        """Z-order layout write: parquet min/max skipping on every listed
        column."""
        from polygon_algotrading_env_spark.operators.layout import write_zordered

        write_zordered(df, path, cols, **kw)

    def score_corpus(
        self, docs: DataFrame, model: DataFrame | None = None, **kw
    ) -> DataFrame:
        """Token document-frequency rarity scoring (optionally against an
        external reference-corpus model)."""
        from polygon_algotrading_env_spark.operators.corpus import doc_rarity_scores

        return doc_rarity_scores(docs, model=model, **kw)

    def curate(
        self, df: DataFrame, group_cols, quality_col: str, cap: int, **kw
    ) -> DataFrame:
        """Best-first frequency cap: keep the top-``cap`` rows per group
        by quality."""
        from polygon_algotrading_env_spark.operators.sampling import (
            quality_cap_per_group,
        )

        return quality_cap_per_group(df, group_cols, quality_col, cap, **kw)

    def indicators(
        self,
        bars: DataFrame,
        keys: Sequence[str],
        order_cols: Sequence[str],
        price: str = "close",
        specs: Sequence[str] = ("sma_20", "rsi_14", "bollinger_20", "atr_14"),
    ) -> DataFrame:
        """Attach a set of technical indicators in one pass — every
        window-frame indicator shares the per-key partitioning, so the
        whole stack costs ONE shuffle. Spec grammar: ``sma_N``, ``rsi_N``,
        ``bollinger_N``, ``atr_N``, ``donchian_N``, ``stoch_N_D``,
        ``obv``, ``rvol_N``, ``ema_N``, ``macd`` (the EMA family runs the
        closed-form window algebra of ``with_ema_closed_form`` /
        ``with_macd_closed_form``, no Python grouped map)."""
        from polygon_algotrading_env_spark.operators import indicators as _ind

        out = bars
        for spec in specs:
            parts = spec.split("_")
            kind, args = parts[0], [int(x) for x in parts[1:]]
            if kind == "sma":
                out = _ind.with_sma(out, price, args[0], keys, order_cols)
            elif kind == "rsi":
                out = _ind.with_rsi(out, price, args[0], keys, order_cols)
            elif kind == "bollinger":
                out = _ind.with_bollinger(out, price, args[0], 2.0, keys, order_cols)
            elif kind == "atr":
                out = _ind.with_atr(out, args[0], keys, order_cols, close=price)
            elif kind == "donchian":
                out = _ind.with_donchian(out, args[0], keys, order_cols)
            elif kind == "stoch":
                out = _ind.with_stochastic(
                    out, args[0], args[1], keys, order_cols, close=price
                )
            elif kind == "obv":
                out = _ind.with_obv(out, keys, order_cols, close=price)
            elif kind == "rvol":
                out = _ind.with_realized_vol(out, price, args[0], keys, order_cols)
            elif kind == "ema":
                out = _ind.with_ema_closed_form(out, price, args[0], keys, order_cols)
            elif kind == "macd":
                out = _ind.with_macd_closed_form(out, price, keys, order_cols)
            else:
                raise ValueError(f"unknown indicator spec: {spec!r}")
        return out

    def sketch_distinct(
        self, df: DataFrame, col: str, by: Sequence[str], **kw
    ) -> DataFrame:
        """Per-group mergeable HLL distinct sketches + estimates
        (operators/sketches.py) — persist the sketch column to answer
        union-of-groups distinct questions later without a rescan."""
        from polygon_algotrading_env_spark.operators.sketches import (
            hll_estimate,
            hll_group_sketches,
        )

        return hll_estimate(hll_group_sketches(df, col, by, **kw))

    def heavy_hitters(
        self, df: DataFrame, key_col: str, k: int = 20, capacity: int = 4096
    ) -> DataFrame:
        """Certified top-k by frequency without shuffling the key domain
        (operators/sketches.py: MG candidates + exact recount; the
        `certified` column proves equality with the full shuffle)."""
        from polygon_algotrading_env_spark.operators.sketches import (
            mg_heavy_hitters,
        )

        return mg_heavy_hitters(df, key_col, k=k, capacity=capacity)

    def resample_mixture(
        self, df: DataFrame, group_col: str, weights: dict[str, float], **kw
    ) -> DataFrame:
        """Deterministic domain reweighting to target mixture proportions
        (operators/sampling.py: md5-order quotas, max retention)."""
        from polygon_algotrading_env_spark.operators.sampling import (
            mixture_resample,
        )

        return mixture_resample(df, group_col, weights, **kw)

    def dollar_bars(
        self, ticks: DataFrame, threshold: float, **kw
    ) -> DataFrame:
        """Information-driven bar sampling (operators/bars.py:
        threshold_bars) — a bar per `threshold` of traded measure."""
        return _bars.threshold_bars(ticks, measure_col=kw.pop(
            "measure_col", "value"), threshold=threshold, keys=kw.pop(
            "keys", ("ticker",)), **kw)

    def label_bars(self, bars: DataFrame, **kw) -> DataFrame:
        """Triple-barrier supervised labels (operators/backtest.py)."""
        from polygon_algotrading_env_spark.operators.backtest import (
            triple_barrier_labels,
        )

        return triple_barrier_labels(bars, **kw)

    def research(self, bars: DataFrame, out_root: str | None = None, **kw):
        """Signals → equity → scorecard gold pack (pipelines.research_pack);
        pass out_root to land each layer as a versioned table."""
        return pipelines.research_pack(
            bars, out_root=out_root, spark=self.spark, **kw
        )

    def train_tokenizer(self, docs: DataFrame, n_merges: int = 1000, **kw):
        """Learn a BPE merge table (operators/corpus.py: bpe_train);
        returns (merges, vocab segmentation)."""
        from polygon_algotrading_env_spark.operators.corpus import bpe_train

        return bpe_train(docs, n_merges=n_merges, **kw)

    def segment_words(self, words: DataFrame, merges, **kw) -> DataFrame:
        """Apply a learned BPE merge table to a word vocabulary
        (operators/corpus.py: bpe_segment)."""
        from polygon_algotrading_env_spark.operators.corpus import bpe_segment

        return bpe_segment(words, merges, **kw)

    def select_for_domain(
        self, docs: DataFrame, target_cond, **kw
    ) -> DataFrame:
        """DSIR importance weights toward a target domain
        (operators/corpus.py: dsir_log_weights)."""
        from polygon_algotrading_env_spark.operators.corpus import (
            dsir_log_weights,
        )

        return dsir_log_weights(docs, target_cond, **kw)

    def neardup_index(self, index_dir: str, new_docs: DataFrame, **kw):
        """Ingest a batch into the persistent MinHash-LSH index and get
        back the near-dup pairs involving it (operators/dedup.py:
        minhash_index_update)."""
        from polygon_algotrading_env_spark.operators.dedup import (
            minhash_index_update,
        )

        return minhash_index_update(index_dir, new_docs, **kw)

    # -- declared corpus --------------------------------------------------
    def query(self, name: str, sf_dir: str = catalog.DEFAULT_SF_DIR) -> DataFrame:
        from polygon_algotrading_env_spark.queries import queries

        return queries()[name](self.spark, sf_dir)

    def _root(self) -> str:
        if not self.lake_root:
            raise ValueError("Engine(lake_root=...) required for ingest APIs")
        return self.lake_root
