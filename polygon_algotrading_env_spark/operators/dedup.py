"""Deduplication operators — exact and near-duplicate.

Reference parity: the pipeline ingests overlapping pages by design and
dedups with ``df.drop_duplicates()`` (``polygon-etl-container/src/
reference_endpoints_etl.py:56``, ``aggregates_stocks_etl.py:89``,
``old_source/old_source_op.py:106-109``; "expected that some duplicate data
will be ingested" — ``README.md:20``). SURVEY.md §2.3 D1-D3.

Extension surface: near-duplicate detection for training-data pipelines —
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine — all expressed as
DataFrame plans:

- signatures are computed with JVM-side expressions (xxhash64 over
  shingles under per-permutation seeds; no Python in the scan);
- candidate generation is an equi-join on LSH band keys (shuffle on a
  well-distributed hash key — never an O(n²) cross join);
- verification re-checks candidates exactly, only on the candidate set.

At 100 TB this is the canonical shuffle-bounded near-dup plan: |pairs|
scales with true duplicate density, not n².
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from polygon_algotrading_env_spark.functions.text import char_ngrams


def exact_dedup(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Full-row (or by-key) exact dedup — D1. With keys, keeps an arbitrary
    row per key (use dedup_keep_first for deterministic survivor choice)."""
    return df.dropDuplicates(list(keys)) if keys else df.dropDuplicates()


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """Deterministic survivor: the row with the smallest order_col per key.

    min_by over a struct of the full row — one hash aggregate, no window
    sort. (A row_number window would add a per-key sort; argmin doesn't.)
    """
    payload = F.struct(*[F.col(c) for c in df.columns])
    out = df.groupBy(*keys).agg(
        F.min_by(payload, F.col(order_col)).alias("__row")
    )
    return out.select(*[F.col("__row")[c].alias(c) for c in df.columns])


def observed_dedup(
    df: DataFrame, keys: Sequence[str] | None = None
) -> tuple[DataFrame, "Observation", "Observation"]:
    """Full-row dedup instrumented with ``observe()``: input and output
    row counts are collected as metrics OF the one real job instead of two
    extra count() jobs (D3's logging, Spark-native — at 100 TB a count()
    is a full scan you don't want to pay twice).

    Returns (deduped_df, obs_in, obs_out); read ``obs.get`` after the
    first action on the returned DataFrame.
    """
    from pyspark.sql import Observation

    obs_in, obs_out = Observation("dedup_in"), Observation("dedup_out")
    observed = df.observe(obs_in, F.count(F.lit(1)).alias("rows"))
    deduped = (
        observed.dropDuplicates(list(keys)) if keys else observed.dropDuplicates()
    )
    deduped = deduped.observe(obs_out, F.count(F.lit(1)).alias("rows"))
    return deduped, obs_in, obs_out


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

def minhash_signature(
    text: Column | str, num_hashes: int = 32, shingle_n: int = 5
) -> Column:
    """Array of ``num_hashes`` minhash values over character shingles.

    Fully vectorized Arrow-batched pandas UDF, chosen by measurement
    (see ARCHITECTURE.md "Python is quarantined"): the declarative
    formulation — per-char ``substr`` shingling + per-shingle hashing +
    k permutation passes as nested higher-order functions — runs
    interpreted per array element (~100 s for 5000 docs × 300 shingles ×
    32 perms). Here shingling is a numpy sliding window over the utf-8
    bytes, shingle hashing a polynomial dot product, and the k
    permutations a (k × n) multiply-shift matrix — milliseconds for the
    same input, deterministic for a fixed seed.
    """
    return _minhash_text_udf(num_hashes, shingle_n)(
        F.col(text) if isinstance(text, str) else text
    )


def _minhash_text_udf(num_hashes: int, shingle_n: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = (rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64) * 2 + 1).astype(
        np.uint64
    )
    b = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    # Polynomial rolling-hash coefficients over shingle bytes (odd base →
    # full-period multiplicative mixing under uint64 wraparound).
    pow_ = np.power(
        np.uint64(1099511628211), np.arange(shingle_n, dtype=np.uint64)
    ).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                bts = np.frombuffer(t.lower().encode("utf-8"), dtype=np.uint8)
                if len(bts) == 0:
                    out.append(None)
                    continue
                if len(bts) < shingle_n:  # whole text = single shingle
                    h = (bts.astype(np.uint64) * pow_[: len(bts)]).sum(keepdims=True)
                else:
                    win = np.lib.stride_tricks.sliding_window_view(bts, shingle_n)
                    h = (win.astype(np.uint64) * pow_[None, :]).sum(axis=1)
                h = np.unique(h)  # set semantics, like array_distinct
                sig = (a[:, None] * h[None, :] + b[:, None]).min(axis=1)
                out.append(sig.astype(np.int64).tolist())
        return pd.Series(out)

    return _sig


def lsh_band_keys(sig: Column | str, bands: int, rows_per_band: int) -> Column:
    """Array of ``bands`` LSH bucket keys: hash of each signature band."""
    sig = F.col(sig) if isinstance(sig, str) else sig
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(sig, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            ),
            b,
        ),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) with the estimated
    Jaccard similarity from full-signature agreement.

    Plan: signature scan → explode band keys → self-equi-join on
    (band_idx, band_key) → distinct pairs → signature-agreement estimate.
    The join key space is 64-bit hashes: uniformly distributed, so the
    shuffle is balanced; bucket sizes track true near-dup clusters.

    The signature relation is persisted while the (much smaller) pair set
    is materialized — a self-join otherwise re-executes the signature scan
    (the dominant cost) once per side — then unpersisted before returning,
    so repeated calls don't accumulate executor cache. The returned frame
    is an eager local checkpoint of the pair set: lineage is truncated, so
    nothing downstream can re-trigger the signature scan. At cluster scale
    the same effect comes from writing signatures to a silver table once.
    """
    sigs = _signatures(docs, id_col, text_col, num_hashes, shingle_n)
    # Band join carries only (id, band) — the narrow shuffle; signatures
    # re-attach to the (much smaller) deduped pair set afterwards.
    banded = _band_rows(sigs, num_hashes, bands)
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    result = _with_est_jaccard(pairs, sigs).localCheckpoint(eager=True)
    sigs.unpersist()
    return result


def _signatures(
    docs: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Persisted (id, sig) of every document with non-empty text; the
    caller unpersists it."""
    # Null/empty texts must not reach the band join: their (null) signature
    # band keys all collapse to the hash of an empty slice, which would
    # bucket every empty doc together — an artificial skew cluster. Guard
    # on the text itself (pushable to the scan), not on the UDF output
    # (filtering a UDF column measured ~+30% on this pipeline).
    return (
        docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col).alias("id"),
            minhash_signature(F.col(text_col), num_hashes, shingle_n).alias("sig"),
        )
        .persist()
    )


def _band_rows(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """One (id, band_idx, band_key) row per signature band."""
    return sigs.select(
        "id",
        F.posexplode(
            lsh_band_keys(F.col("sig"), bands, num_hashes // bands)
        ).alias("band_idx", "band_key"),
    )


def _with_est_jaccard(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """(id_a, id_b, est_jaccard): the share of signature positions on
    which the pair agrees."""
    sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # Agreement stays a JVM zip_with: interpreted HOF eval is fine at
    # |pairs| × num_hashes scale (~1M ops), and measured FASTER than an
    # Arrow pandas UDF here — the Python-worker round trip costs more than
    # the interpreted comparisons it replaces. (Contrast minhash_signature,
    # where the work is |docs| × |shingles| × num_hashes and numpy wins.)
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.size(F.col("sig_a"))).alias("est_jaccard"),
        )
    )


def ngram_overlap_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Exact shingle-set overlap of candidate pairs, as integers.

    Joins the (small) candidate set back to texts and evaluates exact
    intersection/union sizes with array ops — cost bounded by the candidate
    count, never by n². Integer outputs (``n_common``, ``n_union``) are the
    cross-engine-safe face of Jaccard: thresholds become exact integer
    comparisons (2*common >= union ⟺ jaccard >= 1/2) with no float grid.
    """
    texts = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(char_ngrams(F.col(text_col), shingle_n)).alias("__sh"),
    )
    out = (
        pairs.join(texts.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(texts.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    return out.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_common"),
        F.size(F.array_union("sh_a", "sh_b")).cast("bigint").alias("n_union"),
    )


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs (float ratio;
    prefer :func:`ngram_overlap_pairs` where results cross engines)."""
    out = ngram_overlap_pairs(pairs, docs, id_col, text_col, shingle_n)
    return out.select(
        "id_a",
        "id_b",
        (F.col("n_common").cast("double") / F.col("n_union")).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Substring-span dedup (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better"): find k-token spans that occur in >= min_docs
# distinct documents and remove every occurrence of every such span.
# ---------------------------------------------------------------------------

def token_span_occurrences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Every k-token span occurrence: (id, pos, span) with ``pos`` the
    0-based token offset. Tokens are whitespace-split (``trim`` + ``\\s+``);
    spans are the k-token windows rejoined with single spaces. All JVM
    expressions (``transform`` over ``sequence`` + ``slice``) — one narrow
    explode per document, no Python in the scan."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    doc = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )
    spans = F.expr(
        f"transform(sequence(0, __n - {k}), i ->"
        f" array_join(slice(__toks, i + 1, {k}), ' '))"
    )
    return (
        doc.filter(F.col("__n") >= k)
        .select(id_col, F.posexplode(spans).alias("pos", "span"))
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level dedup: drop every token covered by a k-token
    span that appears in >= ``min_docs`` distinct documents (all occurrences
    in all documents, as in Lee et al. 2022 — not one-survivor dedup).

    Returns (id, n_tokens, n_dup_tokens, cleaned_text). ``cleaned_text`` is
    the uncovered tokens rejoined with single spaces, so original whitespace
    runs are normalized; documents shorter than k tokens pass through (also
    re-joined). Removal can make previously-distant tokens adjacent, so a
    second pass may find new duplicated spans — the operator is one pass of
    the fixed-point the paper describes.

    Scale shape: the tokenize+explode scan runs ONCE (the rarity-scoring
    lesson — never join a relation back to a second explode of itself):
    occurrences are folded to one row per (span, doc) carrying the position
    list, duplicate spans are flagged with a ``count() over (partition by
    span)`` window on those compact rows, and survivors re-explode into
    covered offsets. Hot boilerplate spans make wide-but-spillable window
    partitions of position-list rows, never unbounded driver state.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    doc = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )
    occ = token_span_occurrences(df, id_col, text_col, k)
    per_span_doc = occ.groupBy("span", id_col).agg(
        F.collect_list("pos").alias("__poss")
    )
    flagged = per_span_doc.withColumn(
        "__nd", F.count(F.lit(1)).over(Window.partitionBy("span"))
    ).filter(F.col("__nd") >= min_docs)
    covered = (
        flagged.select(id_col, F.explode("__poss").alias("pos"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("__p"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__p").alias("__cov"))
    )
    empty_int_arr = F.expr("CAST(array() AS array<int>)")
    return (
        doc.join(covered, id_col, "left")
        .withColumn("__cov", F.coalesce(F.col("__cov"), empty_int_arr))
        .select(
            id_col,
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.size("__cov").cast("bigint").alias("n_dup_tokens"),
            F.array_join(
                F.filter(
                    "__toks",
                    lambda t, i: ~F.array_contains(F.col("__cov"), i),
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS-style) fingerprints
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    text: Column | str, k: int = 8, window: int = 12
) -> Column:
    """Winnowing fingerprint set: min k-gram hash per sliding window of
    ``window`` consecutive k-gram hashes (Schleimer/Wilkerson/Aiken's MOSS
    scheme). Guarantees any shared substring of length ≥ window+k-1 yields
    at least one shared fingerprint — the partial-overlap detector that
    whole-document hashes miss.

    Same quarantined-numpy shape as minhash: text → rolling polynomial
    k-gram hashes → per-window min, all vectorized per Arrow batch.
    Fingerprints come back as a sorted distinct array; explode + groupBy
    fingerprint joins documents sharing any region.
    """
    return _winnow_udf(k, window)(F.col(text) if isinstance(text, str) else text)


def _winnow_udf(k: int, window: int):
    pow_ = np.power(
        np.uint64(1099511628211), np.arange(k, dtype=np.uint64)
    ).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                b = np.frombuffer(t.lower().encode("utf-8"), dtype=np.uint8)
                if len(b) < k:
                    out.append([])
                    continue
                grams = np.lib.stride_tricks.sliding_window_view(b, k)
                h = (grams.astype(np.uint64) * pow_[None, :]).sum(axis=1)
                if len(h) <= window:
                    sel = np.array([h.min()])
                else:
                    wins = np.lib.stride_tricks.sliding_window_view(h, window)
                    sel = wins.min(axis=1)
                fps = np.unique(sel).astype(np.int64)
                out.append(fps.tolist())
        return pd.Series(out)

    return _fp


def winnow_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 12,
    min_shared: int = 2,
) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints. Explode → equi-join on fingerprint → count per
    pair — shuffle-bounded like the MinHash plan, but sensitive to shared
    REGIONS rather than whole-document similarity."""
    fps = docs.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(F.col(text_col), k, window)).alias("fp"),
    ).persist()
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    # Materialize the small pair set eagerly so the fingerprint cache can be
    # released before returning (same hygiene as minhash_candidate_pairs).
    result = pairs.localCheckpoint(eager=True)
    fps.unpersist()
    return result


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text: Column | str, shingle_n: int = 4) -> Column:
    """64-bit SimHash fingerprint over character shingles.

    For each bit position, sum the ±1 contributions of each shingle's
    xxhash64 bit; the fingerprint bit is 1 iff the sum is positive. Near-dup
    docs differ in few bits (use :func:`hamming64` ≤ k).

    Same hybrid split as :func:`minhash_signature`: string hashing stays
    JVM-side, the 64-bit-majority reduction is a vectorized pandas UDF
    (64 per-bit aggregate expressions run interpreted and are ~100× slower).
    """
    shingles = F.array_distinct(char_ngrams(text, shingle_n))
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    return _simhash_udf(hashes)


@pandas_udf(LongType())
def _simhash_udf(base: pd.Series) -> pd.Series:
    bit_idx = np.arange(64, dtype=np.uint64)
    out = []
    for hashes in base:
        if hashes is None or len(hashes) == 0:
            out.append(None)
            continue
        h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        bits = (h[:, None] >> bit_idx[None, :]) & np.uint64(1)  # (n, 64)
        counts = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        fp = np.uint64(0)
        for i in np.where(counts > 0)[0]:
            fp |= np.uint64(1) << np.uint64(i)
        out.append(int(fp.astype(np.int64)))
    return pd.Series(out, dtype="Int64")


def hamming64(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    bands: int = 8,
) -> DataFrame:
    """SimHash near-dup candidates via banded fingerprint chunks.

    The 64-bit fingerprint is split into ``bands`` equal chunks; documents
    sharing any chunk become a candidate pair (pigeonhole: every pair with
    Hamming distance < ``bands`` is guaranteed caught — 8 bands ⇒ all pairs
    within 7 bit flips). Same shuffle-bounded shape as the MinHash plan:
    explode chunk keys → equi-join → distinct pairs, with Hamming distance
    attached for downstream thresholding.
    """
    assert 64 % bands == 0, "bands must divide 64"
    width = 64 // bands
    mask = (1 << width) - 1
    fps = docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        F.col(id_col).alias("id"),
        simhash64(F.col(text_col), shingle_n=shingle_n).alias("fp"),
    ).persist()
    chunks = fps.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("fp"), i * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(
        F.col("id").alias("id_a"), F.col("fp").alias("fp_a"), "chunk_idx", "chunk"
    )
    b = chunks.select(
        F.col("id").alias("id_b"), F.col("fp").alias("fp_b"), "chunk_idx", "chunk"
    )
    pairs = (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64("fp_a", "fp_b").alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )
    result = pairs.localCheckpoint(eager=True)
    fps.unpersist()
    return result


# --- persistent, incrementally-maintained MinHash-LSH index ---------------
# At 100 TB the signature scan is the dominant near-dup cost; re-running it
# over the whole corpus for every ingest batch is the classic waste. The
# index persists (sigs, band keys) once; each new batch signatures ONLY its
# own documents, probes the stored bands for new-vs-old candidates, and
# appends itself — the same delta ≡ full-rebuild contract as the
# incremental bar view (operators/incremental.py).

_INDEX_META = "_index_meta.json"


def _index_params_path(index_dir: str) -> str:
    import os

    return os.path.join(index_dir, _INDEX_META)


def minhash_index_update(
    index_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """Ingest ``new_docs`` into the persistent LSH index at ``index_dir``
    (creating it on first call) and return the near-duplicate candidate
    pairs INVOLVING the new batch — new×old via a probe of the stored
    band table, new×new within the batch — with the same est_jaccard
    measure as :func:`minhash_candidate_pairs`.

    Invariant (pinned in tests): the union of every batch's returned
    pairs equals a full :func:`minhash_candidate_pairs` rebuild over the
    union corpus — incremental maintenance changes COST, never answers.
    Index parameters are recorded at init and validated on every update
    (a probe with mismatched banding would silently find nothing).

    Scale shape: signatures are computed for the new batch only; the
    probe is an equi-join on uniformly-distributed 64-bit band keys
    against a parquet table partitioned by band_idx; appends are
    partition-aligned file adds, never a rewrite of existing data.

    Concurrency contract: ONE writer at a time (the foreachBatch driver
    in streaming, a single ingest job in batch) — two simultaneous
    updates could each miss the other's in-flight batch in their probe.
    Plain-parquet appends carry no transaction log; route concurrent
    ingest through a queue or wrap the index in the versioned-table
    layer (sources/versioned.py) if multi-writer is ever needed.
    """
    import json
    import os

    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
    }
    meta_path = _index_params_path(index_dir)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            stored = json.load(fh)
        if stored != params:
            raise ValueError(
                f"index at {index_dir} was built with {stored}, "
                f"update called with {params}"
            )
        existing = True
    else:
        existing = False

    spark = new_docs.sparkSession
    sigs_new = _signatures(new_docs, id_col, text_col, num_hashes, shingle_n)
    banded_new = _band_rows(sigs_new, num_hashes, bands)

    bands_path = os.path.join(index_dir, "bands")
    sigs_path = os.path.join(index_dir, "sigs")
    if existing:
        bands_all = spark.read.parquet(bands_path).unionByName(banded_new)
        sigs_all = spark.read.parquet(sigs_path).unionByName(sigs_new)
    else:
        bands_all, sigs_all = banded_new, sigs_new

    probe = banded_new.select(
        F.col("id").alias("id_x"), "band_idx", "band_key"
    ).join(
        bands_all.select(F.col("id").alias("id_y"), "band_idx", "band_key"),
        ["band_idx", "band_key"],
    )
    pairs = (
        probe.filter(F.col("id_x") != F.col("id_y"))
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    result = _with_est_jaccard(pairs, sigs_all).localCheckpoint(eager=True)
    # Append AFTER the probe materialized (localCheckpoint above), so the
    # probe never sees this batch's own rows twice.
    banded_new.write.mode("append").partitionBy("band_idx").parquet(bands_path)
    sigs_new.write.mode("append").parquet(sigs_path)
    if not existing:
        os.makedirs(index_dir, exist_ok=True)
        with open(meta_path, "w") as fh:
            json.dump(params, fh)
    sigs_new.unpersist()
    return result
