"""Text-analysis + dedup queries over ``documents`` (extension surface:
the LLM-training-data operators, BASELINE.json north star).

SQL-expressible features carry DuckDB oracles; hash-based operators
(MinHash/SimHash/fingerprints use xxhash64, which DuckDB doesn't share)
declare no oracle and get the driver's rows-only check.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from polygon_algotrading_env_spark.catalog import load_table
from polygon_algotrading_env_spark.functions.text import (
    LANG_MARKERS,
    doc_fingerprint,
    quality_features,
    stopword_hits,
    token_count,
)
from polygon_algotrading_env_spark.operators.dedup import (
    minhash_candidate_pairs,
    ngram_overlap_pairs,
    remove_duplicate_spans,
    simhash64,
    simhash_candidate_pairs,
    winnow_candidate_pairs,
)
from polygon_algotrading_env_spark.queries import register
from polygon_algotrading_env_spark.queries._pagerank_sql import (
    PAGERANK_ROUNDS_CTE,
)


# --- exact dedup profile (D1 generalized to content dedup) ----------------
@register(
    "dedup_docs_by_text",
    oracle="""
    SELECT source,
           count(*)             AS n_docs,
           count(DISTINCT text) AS n_unique_texts
    FROM documents GROUP BY source
    """,
)
def dedup_docs_by_text(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("text").alias("n_unique_texts"),
        )
    )


# --- token counting -------------------------------------------------------
@register(
    "token_count_docs",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS INT)
           END AS n_tokens
    FROM documents
    """,
)
def token_count_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("int").alias("n_tokens")
    )


# --- quality scoring ------------------------------------------------------
@register(
    "doc_quality_features",
    headline=True,
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           round((length(text) - length(regexp_replace(text, '\\s', '', 'g')))
                 / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE), 6)
             AS space_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE), 6)
             AS digit_ratio
    FROM documents
    """,
)
def doc_quality_features(spark, sf_dir):
    feats = quality_features(F.col("text"))
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        feats["n_chars_calc"].cast("bigint").alias("n_chars_calc"),
        F.round(feats["space_ratio"], 6).alias("space_ratio"),
        F.round(feats["digit_ratio"], 6).alias("digit_ratio"),
    )


# --- language ID (stopword-marker heuristic) ------------------------------
def _lang_oracle() -> str:
    # Build the same marker-hit CASE cascade in portable SQL.
    hits = {
        lang: (
            "CAST(length(regexp_extract_all(lower(text), "
            f"'\\b({'|'.join(ws)})\\b')) AS INT)"
        )
        for lang, ws in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    # argmax with first-listed language winning ties, 'und' when all zero.
    when = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} > 0"]
        for j, other in enumerate(langs):
            if other != lang:
                op = ">=" if j > i else ">"
                conds.append(f"h_{lang} {op} h_{other}")
        when.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    hit_cols = ",\n           ".join(f"{sql} AS h_{lang}" for lang, sql in hits.items())
    return f"""
    SELECT doc_id,
           CASE {' '.join(when)} ELSE 'und' END AS lang_pred
    FROM (
      SELECT doc_id,
           {hit_cols}
      FROM documents
    )
    """


@register("lang_id_docs", oracle=_lang_oracle())
def lang_id_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    langs = list(LANG_MARKERS)
    hit_cols = [
        stopword_hits("text", ws).cast("int").alias(f"h_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", *hit_cols)
    pred = None
    expr = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = F.col(f"h_{lang}") > 0
        for j, other in enumerate(langs):
            if other != lang:
                op = F.col(f"h_{lang}") >= F.col(f"h_{other}") if j > i else F.col(
                    f"h_{lang}"
                ) > F.col(f"h_{other}")
                cond = cond & op
        expr = F.when(cond, lang).otherwise(expr)
    return scored.select("doc_id", expr.alias("lang_pred"))


# --- fingerprint / hash-based ops, md5-certified ---------------------------
# These three names shipped in round 1 on engine-specific xxhash64 (no
# cross-engine oracle possible) and were the registry's last never-green
# driver rows. They now carry the md5 treatment — the same recipe that
# certified the rest of the dedup tier — while the xxhash64 kernels
# (functions/text.doc_fingerprint, operators/dedup.simhash64 /
# minhash_candidate_pairs) remain the throughput path used by the
# *_verified_near_dups queries and the dedup operators.
@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           ('0x' || substring(md5(regexp_replace(lower(trim(text)),
                                                 '\\s+', ' ', 'g')),
                    1, 15))::BIGINT AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark, sf_dir):
    """60-bit normalized-content fingerprints, hash-certified: lowercase
    + whitespace-collapse (so trivially reformatted duplicates collide),
    then the first 15 hex digits of md5 as a positive BIGINT — the md5
    treatment for the r1 xxhash64 original (the xxhash64 kernel stays
    the throughput path in functions/text.doc_fingerprint). Pure JVM
    codegen, one scan, no shuffle."""
    norm = F.regexp_replace(
        F.lower(F.trim(F.col("text"))), r"\s+", " "
    )
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fingerprint"),
    )


def _simhash60_md5_oracle() -> str:
    terms = []
    for b in range(60):
        src = f"(x >> {b})" if b < 32 else f"(z >> {b - 32})"
        terms.append(
            f"CASE WHEN 2 * sum({src} & 1) >= count(*) "
            f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END AS s{b}"
        )
    bits = ",\n           ".join(terms)
    total = " + ".join(f"s{b}" for b in range(60))
    return f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(CASE WHEN length(text) < 4 THEN [lower(text)]
                    ELSE list_distinct([substring(lower(text), i, 4)
                                        FOR i IN range(1, length(text) - 2)])
                    END) AS g
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             ('0x' || substring(md5(g), 1, 8))::BIGINT AS x,
             ('0x' || substring(md5(g), 9, 8))::BIGINT AS z
      FROM sh
    ),
    maj AS (
      SELECT doc_id,
           {bits}
      FROM hx GROUP BY doc_id
    )
    SELECT doc_id, {total} AS simhash FROM maj
    """


@register("simhash_docs", oracle=_simhash60_md5_oracle())
def simhash_docs(spark, sf_dir):
    """Every document's 60-bit SimHash over distinct 4-gram shingles,
    hash-certified under the md5 treatment: bits 0-31 majority-vote the
    first md5 word, bits 32-59 the second (60 bits keeps the BIGINT
    positive on both engines). Complements the 32-bit 5-gram
    simhash_md5_signatures at a different (n-gram, width) point; the
    xxhash64 kernel (operators/dedup.simhash64) stays the throughput
    path behind simhash_verified_near_dups."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(char_ngrams("text", 4))).alias("g"),
    )
    x = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    z = F.conv(F.substring(F.md5(F.col("g")), 9, 8), 16, 10).cast("long")
    sh = sh.select("doc_id", x.alias("x"), z.alias("z"))
    n = F.count(F.lit(1))
    sig = sum(
        (
            F.when(
                2
                * F.sum(
                    F.shiftright(F.col("x" if b < 32 else "z"), b % 32) % 2
                )
                >= n,
                F.lit(1 << b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for b in range(60)
        ),
        F.lit(0).cast("bigint"),
    )
    return sh.groupBy("doc_id").agg(sig.alias("simhash"))


# A document's distinct character 5-gram set, lowercased (the whole text
# when shorter than 5 chars): the DuckDB form of
# array_distinct(char_ngrams("text", 5)), shared by the shingle oracles.
_SHINGLES_5_SQL = """CASE WHEN length(text) < 5 THEN [lower(text)]
                  ELSE list_distinct([substring(lower(text), i, 5)
                                      FOR i IN range(1, length(text) - 3)])
             END"""


@register(
    "ngram_jaccard_adjacent",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(length(list_intersect(a.s, b.s)) AS BIGINT)      AS n_common,
           CAST(length(list_distinct(list_concat(a.s, b.s))) AS BIGINT)
                                                                 AS n_union
    FROM sh a JOIN sh b
      ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    """,
)
def ngram_jaccard_adjacent(spark, sf_dir):
    """Exact 5-gram set overlap for a deterministic pair set (adjacent
    doc_ids within a language) — the oracle-checkable face of n-gram
    Jaccard. Intersection/union sizes are exposed as exact integers; the
    ratio is trivially derivable and would only add float-rounding risk."""
    docs = load_table(spark, sf_dir, "documents")
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    sh = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(char_ngrams("text", 5)).alias("s"),
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"), F.col("s").alias("sa")
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"), F.col("s").alias("sb")
    )
    joined = a.join(
        b,
        (F.col("id_b") == F.col("id_a") + 1) & (F.col("lang_a") == F.col("lang_b")),
    )
    return joined.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("n_common"),
        F.size(F.array_union("sa", "sb")).cast("bigint").alias("n_union"),
    )


@register(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
      WHERE 2 * length(list_intersect(a.s, b.s))
            >= length(list_distinct(list_concat(a.s, b.s)))
    ),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
    )
    SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
    """,
)
def near_dup_clusters(spark, sf_dir):
    """Pair→group dedup: exact-Jaccard edges (≥0.5 between lang-adjacent
    doc_ids, integer comparison — no float threshold) fed into distributed
    connected components; every document gets a cluster id (singletons
    included). The oracle recomputes reachability with a recursive CTE."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams
    from polygon_algotrading_env_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", F.array_distinct(char_ngrams("text", 5)).alias("s")
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"),
        F.col("s").alias("sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"),
        F.col("s").alias("sb"),
    )
    edges = (
        a.join(
            b,
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("lang_a") == F.col("lang_b")),
        )
        .filter(
            2 * F.size(F.array_intersect("sa", "sb"))
            >= F.size(F.array_union("sa", "sb"))
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = connected_components(edges, vertices=docs, id_col="doc_id")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )


@register(
    "embedding_near_dup_srp",
    oracle="""
    WITH comp AS (
      SELECT p.p AS p, d.d AS pos,
             (('0x' || substring(md5('srp|' || p.p || '|' || d.d), 1, 8))::BIGINT
              / 4294967295.0) * 2 - 1 AS h
      FROM (SELECT unnest(range(6)) AS p) p,
           (SELECT unnest(range((SELECT len(embedding) FROM embeddings
                                 WHERE vec_id = 0))) AS d) d
    ),
    pl AS (SELECT p, list(h ORDER BY pos) AS hv FROM comp GROUP BY p),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    dots AS (SELECT e.vec_id, pl.p, list_dot_product(e.v, pl.hv) AS dp
             FROM e, pl),
    buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dp >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
               AS bucket
      FROM dots GROUP BY vec_id
    ),
    ev AS (
      SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm, b.bucket
      FROM e JOIN buckets b USING (vec_id)
    ),
    s AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
      FROM ev a JOIN ev b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
    ),
    r AS (
      SELECT id_a, id_b, score,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY score DESC, id_b ASC) AS rk
      FROM s
    )
    SELECT id_a, id_b, score FROM r WHERE rk <= 1
    """,
)
def embedding_near_dup_srp(spark, sf_dir):
    """Embedding-cosine near-dup at scale: SRP-bucket blocking (the 100 TB
    path — equi-join on bucket, never a cross join), nearest in-bucket
    neighbor per vector. Oracle-bearing since round 8: bucketing uses the
    md5-derived hyperplanes of the certified SRP tier (queries/vectors.py)
    through the BULK path — the Arrow matmul assignment — so the hash
    match certifies matmul bucketing ≡ DuckDB's per-plane dot products ≡
    (via the pinned equivalence test) the per-query expression form.
    A production near-dup pass would threshold the round-6 score; the
    fixture's random embeddings have no true duplicates, so the query
    exposes the neighbor + score instead of an empty thresholded set."""
    from polygon_algotrading_env_spark.operators.similarity import (
        add_srp_buckets,
        pairwise_cosine_topk,
    )
    from polygon_algotrading_env_spark.queries.vectors import _md5_planes

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.select(F.size("embedding").alias("d")).first()
    emb = add_srp_buckets(emb, planes=_md5_planes(6, int(first["d"])))
    return pairwise_cosine_topk(emb, k=1, block_col="bucket").select(
        "id_a", "id_b", "score"
    )


# --- cross-engine-reproducible MinHash (oracle-certified tier) ------------
#
# The production MinHash kernel (operators/dedup.py) mixes with numpy
# multiply-shift over xxhash64 — fast, but engine-private, so its queries
# are rows-only (recall is certified against exact n-gram ground truth
# instead). This pair closes the remaining gap the way the SRP tier did
# for ANN in r6: base shingle hash = md5 (bit-identical in Spark and
# DuckDB), per-permutation mix = (a_i·x + b_i) mod (2^31−1) with the
# SAME Python-derived constants inlined in both engines, everything
# exact int64 — certifying signature math AND banded candidate
# generation cross-engine, zero Python on either side.

_MH_M = (1 << 31) - 1
_MH_N = 8


def _mh_consts() -> tuple[list[int], list[int]]:
    a = [
        int(hashlib.md5(f"mh-a|{i}".encode()).hexdigest()[:7], 16) | 1
        for i in range(_MH_N)
    ]
    b = [
        int(hashlib.md5(f"mh-b|{i}".encode()).hexdigest()[:7], 16)
        for i in range(_MH_N)
    ]
    return a, b


def _mh_sig_sql() -> str:
    a, b = _mh_consts()
    mins = ",\n           ".join(
        f"min(({a[i]} * x + {b[i]}) % {_MH_M}) AS h{i}" for i in range(_MH_N)
    )
    return f"""
    sh AS (
      SELECT doc_id,
             unnest({_SHINGLES_5_SQL}) AS g
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             ('0x' || substring(md5(g), 1, 8))::BIGINT % {_MH_M} AS x
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM hx GROUP BY doc_id
    )"""


# The banded (2 bands × 4 rows) candidate pairs of the md5-MinHash `sig`
# CTE: the oracle twin of _md5_band_cand_df.
_MH_BAND_CAND_SQL = """
    bands AS (
      SELECT doc_id, b,
             CASE b WHEN 0 THEN h0 ELSE h4 END AS x,
             CASE b WHEN 0 THEN h1 ELSE h5 END AS y,
             CASE b WHEN 0 THEN h2 ELSE h6 END AS z,
             CASE b WHEN 0 THEN h3 ELSE h7 END AS w
      FROM sig, (SELECT unnest(range(2)) AS b)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.b = r.b AND l.x = r.x AND l.y = r.y AND l.z = r.z
           AND l.w = r.w AND l.doc_id < r.doc_id
    )"""

# Number of hashes on which a candidate pair's signatures (sa, sb) agree.
_MH_AGREE_SQL = " + ".join(f"(sa.h{i} = sb.h{i})::INT" for i in range(_MH_N))


def _md5_band_join(sig, *carry: str):
    """Banded (2 bands × 4 rows) self-join of an md5-MinHash signature
    relation: one row per (band, doc pair) whose 4-hash band keys match,
    ``doc_id`` ordered l < r, each side keeping its ``carry`` columns.
    (band, 4-hash key) equi-join, never all-pairs."""
    band_structs = [
        F.struct(
            F.lit(bnd).alias("b"),
            F.col(f"h{4 * bnd}").alias("x"),
            F.col(f"h{4 * bnd + 1}").alias("y"),
            F.col(f"h{4 * bnd + 2}").alias("z"),
            F.col(f"h{4 * bnd + 3}").alias("w"),
        )
        for bnd in range(2)
    ]
    bands = sig.select(
        "doc_id", *carry, F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", *carry, "bk.b", "bk.x", "bk.y", "bk.z", "bk.w")
    l, r = bands.alias("l"), bands.alias("r")
    return l.join(r, ["b", "x", "y", "z", "w"]).where(
        F.col("l.doc_id") < F.col("r.doc_id")
    )


def _md5_band_cand_df(sig):
    """Banded candidate pairs (2 bands × 4 rows) from an md5-MinHash
    signature relation — the shared LSH candidate generator behind
    ngram_jaccard_near_dup / minhash_recall_report."""
    return (
        _md5_band_join(sig)
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .distinct()
    )


def _mh_sig_df(spark, sf_dir):
    """md5-MinHash signature relation: explode + one grouped aggregation
    (8 min()s on one doc_id shuffle whose partial aggregation collapses
    map-side, so the exchange carries ~|docs|x9 longs, not shingles).
    Returned lazily, never checkpointed: a consumer that reads it twice
    in one plan (the band self-join of ``_md5_agreeing_pairs``) gets one
    scan and shuffle, the second read a ``ReusedExchange`` of the first.

    Two A/Bs behind this shape (r12 VERDICT item 7, the b8a97ec
    measure-don't-assume discipline):

    - Folding the 8 grouped mins into array higher-order functions
      (transform+array_min, or one aggregate() with a struct
      accumulator) LOSES ~2x in every regime measured (sf0.1: 4.9 vs
      9.4 s; 100x-of-sf0.01: 3.3 vs 4.9 s) — HOF lambdas evaluate
      interpreted per element while the explode pipeline stays inside
      whole-stage codegen, and the exchange the fold would remove was
      already partial-aggregated to noise. Reverted.
    - The heavy per-shingle work (md5) is STAGE-1 bound: parallelism =
      input splits. The local single-file documents fixture scans as
      ONE partition, serializing the whole pass (measured 5.2 s at
      sf0.1 -> 1.5 s after a rebalance). The repartition below fires
      only when the scan is under-split relative to the session's
      cores — a local-fixture rebalance; a 100 TB scan has millions of
      splits and never triggers it (and a blanket repartition there
      would be a full-corpus text exchange, measured as a small loss
      even at 25 splits/32 cores).
    """
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    a, b = _mh_consts()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < cores // 2:
        docs = docs.repartition(cores)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(char_ngrams("text", 5))).alias("g"),
    )
    x = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long") % _MH_M
    sh = sh.select("doc_id", x.alias("x"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a[i]) * F.col("x") + F.lit(b[i])) % _MH_M).alias(
                f"h{i}"
            )
            for i in range(_MH_N)
        ]
    )


def _md5_agreeing_pairs(spark, sf_dir, min_equal: int):
    """Banded md5-MinHash candidate pairs whose signatures agree on at least
    ``min_equal`` of the 8 hashes, with the count as ``n_equal``.

    Each band row carries its doc's whole signature, so ``n_equal`` is
    computed on the band join itself and no join goes back to ``sig``. A
    pair that meets in both bands has the same ``n_equal`` both times, so
    ``distinct()`` on (id_a, id_b, n_equal) is the candidate dedup. ``sig``
    then has two consumers, the two sides of one self-join, and AQE
    reuses its exchange: the executed plan scans ``documents`` once and
    shows a ``ReusedExchange`` for the second side. No checkpoint is
    needed, and the build call starts no job."""
    hs = [f"h{i}" for i in range(_MH_N)]
    n_equal = sum(
        (
            (F.col(f"l.{h}") == F.col(f"r.{h}")).cast("int")
            for h in hs
        ),
        F.lit(0),
    ).cast("bigint")
    return (
        _md5_band_join(_mh_sig_df(spark, sf_dir), *hs)
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            n_equal.alias("n_equal"),
        )
        .where(F.col("n_equal") >= min_equal)
        .distinct()
    )


@register(
    "minhash_md5_signatures",
    oracle="WITH " + _mh_sig_sql() + """
    SELECT * FROM sig
    """,
)
def minhash_md5_signatures(spark, sf_dir):
    """Every document's 8-permutation MinHash signature under the
    md5-based cross-engine hash family — the ingest-time assignment pass
    of the banded near-dup index, hash-certified value-for-value against
    DuckDB recomputing the identical mixes. One explode + one grouped
    aggregation (8 min()s on one shuffle); shingling and hashing are
    pure JVM expressions inside codegen."""
    return _mh_sig_df(spark, sf_dir)


@register(
    "minhash_md5_band_pairs",
    headline=True,
    oracle="WITH " + _mh_sig_sql() + "," + _MH_BAND_CAND_SQL + f"""
    SELECT c.id_a, c.id_b,
           CAST({_MH_AGREE_SQL} AS BIGINT)
             AS n_equal
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE {_MH_AGREE_SQL} >= 6
    """,
)
def minhash_md5_band_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs from the md5 MinHash signatures (2
    bands × 4 rows — a 4-hash band key keeps the salad corpus's broad
    ~0.4 background Jaccard out of the candidate set), kept when ≥6 of
    8 hashes agree (est. Jaccard ≥ 0.75) — certifying the full candidate-generation chain (shingle →
    signature → band bucket → equi-join → estimate) cross-engine in
    EXACT integer arithmetic. The join is (band, key) equi — never
    all-pairs — the same shuffle shape as the production banded join.
    Each band row carries the whole signature, so the agreement count is
    taken on the band join and the signature relation has two consumers,
    the two sides of that self-join. AQE reuses its exchange (one scan of
    ``documents``, a ``ReusedExchange`` for the second side), so nothing
    is checkpointed and the build call starts no Spark job. Dominant cost
    is the one unavoidable signature scan."""
    return _md5_agreeing_pairs(spark, sf_dir, 6)


@register(
    "minhash_near_dup_pairs",
    oracle="WITH " + _mh_sig_sql() + "," + _MH_BAND_CAND_SQL + f"""
    SELECT id_a, id_b, n_equal,
           CAST(n_equal AS DOUBLE) / 8 AS est_jaccard
    FROM (
      SELECT c.id_a, c.id_b,
             CAST({_MH_AGREE_SQL} AS BIGINT)
               AS n_equal
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    ) WHERE n_equal >= 4
    """,
)
def minhash_near_dup_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs with estimated Jaccard ≥ 0.5 — the
    r1 shuffle-bounded near-dup plan (shingle → minhash → band → bucket
    join), now hash-certified under the md5 signature family. Kept at
    the looser 0.5 threshold (vs minhash_md5_band_pairs' 0.75 ≥6/8 cut,
    which also carries the headline-bench slot for this plan shape);
    est_jaccard = n_equal/8 is an exact binary division, so no rounding
    grid is needed. The xxhash64 generator
    (operators/dedup.minhash_candidate_pairs) remains the throughput
    path behind minhash_verified_near_dups."""
    return _md5_agreeing_pairs(spark, sf_dir, 4).select(
        "id_a",
        "id_b",
        "n_equal",
        (F.col("n_equal").cast("double") / 8).alias("est_jaccard"),
    )


def _simhash_md5_oracle() -> str:
    bits = ",\n           ".join(
        f"CASE WHEN 2 * sum((x >> {b}) & 1) >= count(*) "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END AS s{b}"
        for b in range(32)
    )
    total = " + ".join(f"s{b}" for b in range(32))
    return f"""
    WITH sh AS (
      SELECT doc_id,
             unnest({_SHINGLES_5_SQL}) AS g
      FROM documents
    ),
    hx AS (
      SELECT doc_id, ('0x' || substring(md5(g), 1, 8))::BIGINT AS x FROM sh
    ),
    maj AS (
      SELECT doc_id,
           {bits}
      FROM hx GROUP BY doc_id
    )
    SELECT doc_id, {total} AS simhash32 FROM maj
    """


@register("simhash_md5_signatures", oracle=_simhash_md5_oracle())
def simhash_md5_signatures(spark, sf_dir):
    """Every document's 32-bit SimHash under the md5 cross-engine hash:
    per-bit majority vote over the distinct-5-gram hash multiset (ties
    round UP on both engines: 2·ones ≥ n). Completes the md5-certified
    dedup tier — MinHash signatures+bands, winnowing fingerprints, and
    now SimHash bit-majorities all hash-match DuckDB in exact integer
    arithmetic with zero Python; the production 64-bit xxhash kernel
    (simhash_docs / simhash_verified_near_dups) stays the throughput
    path."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(char_ngrams("text", 5))).alias("g"),
    )
    x = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    sh = sh.select("doc_id", x.alias("x"))
    n = F.count(F.lit(1))
    sig = sum(
        (
            F.when(
                2 * F.sum(F.shiftright(F.col("x"), b) % 2) >= n,
                F.lit(1 << b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for b in range(32)
        ),
        F.lit(0).cast("bigint"),
    )
    return sh.groupBy("doc_id").agg(sig.alias("simhash32"))


@register(
    "winnow_md5_overlap_pairs",
    oracle="""
    WITH g AS (
      SELECT doc_id, i,
             ('0x' || substring(md5(substring(lower(text), i, 16)), 1, 8))
               ::BIGINT AS x
      FROM documents, LATERAL unnest(range(1, length(text) - 14)) AS t(i)
      WHERE length(text) >= 16
    ),
    w AS (
      SELECT doc_id, i,
             min(x) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS m,
             count(*) OVER (PARTITION BY doc_id) AS n,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
      FROM g
    ),
    fps AS (
      SELECT DISTINCT doc_id, m
      FROM w WHERE rn >= 16 OR (n <= 16 AND rn = n)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
      FROM fps a JOIN fps b ON a.m = b.m AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_fps FROM pairs WHERE shared_fps >= 8
    """,
)
def winnow_md5_overlap_pairs(spark, sf_dir):
    """Winnowing (MOSS) partial-overlap pairs under the md5 cross-engine
    hash: 16-gram hashes, trailing 16-window min selection (any shared
    region of ≥ 31 chars yields a shared fingerprint), pairs sharing ≥8
    fingerprints. The whole chain — gram extraction, hashing, window-min
    selection, fingerprint equi-join, pair count — is JVM window algebra
    certified value-for-value against DuckDB in exact integer
    arithmetic; the production polynomial-rolling-hash kernel
    (winnow_overlap_pairs) stays as the throughput path. Same
    selectivity discipline as that query: long grams + high min_shared
    keep the salad corpus's ubiquitous short overlaps out."""
    from pyspark.sql import Window

    from polygon_algotrading_env_spark.functions.text import char_ngrams

    k, w, min_shared = 16, 16, 8
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Text under k chars has no gram here (char_ngrams would give the
    # whole text as one).
    grams = F.when(
        F.length(F.lower(F.col("text"))) < k, F.array().cast("array<string>")
    ).otherwise(char_ngrams("text", k))
    ex = docs.select("doc_id", F.posexplode(grams).alias("pos", "g")).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10)
        .cast("long")
        .alias("x"),
    )
    wf = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    wp = Window.partitionBy("doc_id")
    sel = ex.select(
        "doc_id",
        "pos",
        F.min("x").over(wf).alias("m"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).where(
        (F.col("pos") >= w - 1)
        | ((F.col("n") <= w) & (F.col("pos") == F.col("n") - 1))
    )
    fps = sel.select("doc_id", "m").distinct()
    a = fps.select(F.col("doc_id").alias("id_a"), "m")
    b = fps.select(F.col("doc_id").alias("id_b"), "m")
    return (
        a.join(b, "m")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


# The rows-only winnow_overlap_pairs entry (polynomial-rolling-hash
# kernel) retired in round 10: winnow_md5_overlap_pairs above certifies
# the identical plan shape value-for-value, and the throughput kernel
# (operators/dedup.py winnow_candidate_pairs) keeps its named tests
# (tests/test_dedup.py::test_winnowing_detects_partial_overlap,
# tests/test_properties.py hypothesis law).


# Exact whole-corpus near-dup truth (jaccard >= 1/2 on distinct 5-gram
# sets, as the integer comparison 2*|A∩B| >= |A∪B|), computed sparsely:
# explode shingles → co-occurrence join → per-pair common count → set sizes.
# Candidate-generator queries below must reproduce this set EXACTLY, which
# bakes a 100%-recall check on the generator into the hash match.
_EXACT_NEAR_DUP_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, length(s) AS n FROM sh),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_common AS BIGINT)                 AS n_common,
           CAST(sa.n + sb.n - n_common AS BIGINT)   AS n_union
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 2 * n_common >= sa.n + sb.n - n_common
"""


@register("minhash_verified_near_dups", oracle=_EXACT_NEAR_DUP_ORACLE)
def minhash_verified_near_dups(spark, sf_dir):
    """Two-stage MinHash near-dup with EXACT verification, certified against
    an all-pairs ground-truth oracle: LSH candidates (shingle → minhash →
    band → bucket join) are re-checked with exact 5-gram overlap and only
    true near-dups (jaccard >= 1/2, integer comparison) survive. A hash
    match here proves both verification correctness AND 100% LSH recall on
    this corpus — the oracle is generator-free, so any pair the band join
    missed would be a visible diff. This certifies the rows-only
    ``minhash_near_dup_pairs`` plan end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_candidate_pairs(
        docs, num_hashes=32, bands=8, shingle_n=5
    ).select("id_a", "id_b")
    exact = ngram_overlap_pairs(cands, docs, shingle_n=5)
    return exact.filter(2 * F.col("n_common") >= F.col("n_union"))


@register("simhash_verified_near_dups", oracle=_EXACT_NEAR_DUP_ORACLE)
def simhash_verified_near_dups(spark, sf_dir):
    """SimHash-banded candidates (8 chunks of the 64-bit fingerprint —
    pigeonhole-complete for Hamming < 8) re-checked with exact 5-gram
    overlap, against the same generator-free ground-truth oracle as
    ``minhash_verified_near_dups``. Certifies the rows-only ``simhash_docs``
    fingerprints actually recall the true near-dup set."""
    docs = load_table(spark, sf_dir, "documents")
    cands = simhash_candidate_pairs(docs, shingle_n=4, bands=8).select(
        "id_a", "id_b"
    )
    exact = ngram_overlap_pairs(cands, docs, shingle_n=5)
    return exact.filter(2 * F.col("n_common") >= F.col("n_union"))


@register(
    "ngram_jaccard_near_dup",
    oracle="WITH " + _mh_sig_sql() + "," + _MH_BAND_CAND_SQL + f""",
    sets AS (
      SELECT doc_id,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    v AS (
      SELECT c.id_a, c.id_b,
             length(list_intersect(a.s, b.s))                    AS nc,
             length(list_distinct(list_concat(a.s, b.s)))        AS nu
      FROM cand c
      JOIN sets a ON a.doc_id = c.id_a
      JOIN sets b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b,
           round(CAST(nc AS DOUBLE) / nu, 6) AS jaccard
    FROM v WHERE 10 * nc >= 3 * nu
    """,
)
def ngram_jaccard_near_dup(spark, sf_dir):
    """Exact n-gram Jaccard verification of LSH candidates (two-stage
    near-dup: candidates from LSH, exact set similarity only on those).
    Oracle-bearing since round 8: the candidate stage is the certified
    md5-MinHash band generator (same CTEs as minhash_md5_band_pairs), so
    the whole two-stage chain — signatures → bands → candidate equi-join
    → exact distinct-5-gram intersection/union — hash-matches DuckDB.
    The keep threshold is the INTEGER cross-multiplication
    10·|A∩B| ≥ 3·|A∪B| (exact, no float boundary); the reported jaccard
    is the identical IEEE division of identical integers on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _mh_sig_df(spark, sf_dir)
    cand = _md5_band_cand_df(sig)
    exact = ngram_overlap_pairs(cand, docs, shingle_n=5)
    return (
        exact.where(10 * F.col("n_common") >= 3 * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common").cast("double") / F.col("n_union"), 6
            ).alias("jaccard"),
        )
    )


# --- deterministic curation ops (split / downsample / pack / redact) ------
@register(
    "train_val_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN h < 'cccc' THEN 'train'
                WHEN h < 'e666' THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
          FROM documents)
    """,
)
def train_val_test_split(spark, sf_dir):
    """Leakage-free 80/10/10 split by content hash of the key — stable
    under reruns, insertions, and engine choice (seeded RNG sampling is
    engine-private; md5 is not)."""
    from polygon_algotrading_env_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "split")


@register(
    "balanced_downsample_per_lang",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
             ) AS rn
      FROM documents)
    WHERE rn <= 50
    """,
)
def balanced_downsample_per_lang(spark, sf_dir):
    """Language-balanced corpus: cap every language at 50 docs chosen by
    hash order — deterministic, unbiased w.r.t. storage order."""
    from polygon_algotrading_env_spark.operators.sampling import (
        per_group_downsample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return per_group_downsample(docs, ["lang"], "doc_id", 50)


@register(
    "context_window_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             END AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // 4096 AS BIGINT) AS context_window
    FROM t
    """,
)
def context_window_packing(spark, sf_dir):
    """Greedy sequence packing: floor(prefix-token-total / 4096) assigns
    each doc to a training context window in one window pass per lang."""
    from polygon_algotrading_env_spark.functions.text import token_count
    from polygon_algotrading_env_spark.operators.sampling import (
        pack_by_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    return pack_by_token_budget(
        docs, "n_tokens", 4096, group_cols=["lang"], order_col="doc_id",
        window_col="context_window",
    )


@register(
    "redact_pii_docs",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_extract_all(
             text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           regexp_replace(
             text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS redacted
    FROM documents
    """,
)
def redact_pii_docs(spark, sf_dir):
    """Email redaction + occurrence count — a PII scrub pass; the regex
    stays in the RE2/Java-common dialect so both engines agree."""
    pat = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).cast("int").alias("n_emails"),
        F.regexp_replace("text", pat, "<EMAIL>").alias("redacted"),
    )


@register(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
      WHERE 2 * length(list_intersect(a.s, b.s))
            >= length(list_distinct(list_concat(a.s, b.s)))
    ),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
    ),
    lab AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
    ranked AS (
      SELECT l.cluster, d.doc_id,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY length(d.text) DESC, d.doc_id) AS rn,
             count(*) OVER (PARTITION BY l.cluster) AS n_members
      FROM documents d JOIN lab l ON l.doc_id = d.doc_id
    )
    SELECT cluster, doc_id AS survivor_doc_id,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def dedup_survivors(spark, sf_dir):
    """End of the dedup pipeline: per near-dup cluster, keep the longest
    text (ties → lowest id) and record the cluster size."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams
    from polygon_algotrading_env_spark.operators.graph import (
        cluster_survivors,
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", F.array_distinct(char_ngrams("text", 5)).alias("s")
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"),
        F.col("s").alias("sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"),
        F.col("s").alias("sb"),
    )
    edges = (
        a.join(
            b,
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("lang_a") == F.col("lang_b")),
        )
        .filter(
            2 * F.size(F.array_intersect("sa", "sb"))
            >= F.size(F.array_union("sa", "sb"))
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = connected_components(edges, vertices=docs, id_col="doc_id")
    return cluster_survivors(
        docs.withColumn("__q", F.length("text")), labels, quality_col="__q"
    )


@register(
    "boilerplate_ngrams",
    oracle="""
    WITH sh AS (
      SELECT unnest(CASE WHEN length(text) < 8 THEN [lower(text)]
                  ELSE list_distinct([substring(lower(text), i, 8)
                                      FOR i IN range(1, length(text) - 6)])
             END) AS shingle
      FROM documents WHERE length(text) >= 8
    )
    SELECT shingle, count(*) AS n_docs
    FROM sh GROUP BY shingle
    ORDER BY n_docs DESC, shingle
    LIMIT 50
    """,
)
def boilerplate_ngrams(spark, sf_dir):
    """Boilerplate detection: the 50 character-8-grams shared by the most
    documents (per-doc distinct shingles, so repetition inside one doc
    doesn't vote twice). Exact heavy-hitters: explode → count → top-k
    (TakeOrderedAndProject — no global sort); deterministic tiebreak on
    the shingle itself."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    return (
        docs.select(
            F.explode(F.array_distinct(char_ngrams("text", 8))).alias("shingle")
        )
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), "shingle")
        .limit(50)
    )


@register(
    "substring_span_dedup",
    oracle="""
    WITH doc AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n
      FROM documents
    ),
    occ AS (
      SELECT doc_id, o.pos AS pos, o.s AS s FROM (
        SELECT doc_id,
               unnest([{'pos': i - 1,
                        's': array_to_string(toks[i:i+4], ' ')}
                       FOR i IN range(1, n - 3)]) AS o
        FROM doc WHERE n >= 5)
    ),
    dup AS (
      SELECT s FROM occ GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT doc_id, count(DISTINCT p) AS n_cov, list(DISTINCT p) AS ps
      FROM (
        SELECT occ.doc_id, unnest(range(pos, pos + 5)) AS p
        FROM occ JOIN dup USING (s))
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.n AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_cov, 0) AS BIGINT) AS n_dup_tokens,
           coalesce(array_to_string(
             [d.toks[i + 1] FOR i IN range(0, d.n)
              IF NOT list_contains(coalesce(c.ps, []), i)],
             ' '), '') AS cleaned_text
    FROM doc d LEFT JOIN cov c USING (doc_id)
    """,
)
def substring_span_dedup(spark, sf_dir):
    """Exact substring-level dedup (Lee et al. 2022): every 5-token span
    appearing in >= 2 distinct documents is removed from ALL documents;
    the full cleaned text is hash-compared, so the oracle certifies span
    discovery, coverage union, and reconstruction together. Single
    tokenize+explode pass; duplicate spans flagged by a count window, never
    a join back onto a second explode of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        docs, id_col="doc_id", text_col="text", k=5, min_docs=2
    )


@register(
    "quality_filter_docs",
    oracle="""
    SELECT doc_id,
           CASE WHEN n_tokens >= 5
                 AND space_r <= 0.5
                 AND digit_r <= 0.3 THEN 1 ELSE 0 END AS keep
    FROM (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             END AS n_tokens,
             (length(text) - length(regexp_replace(text, '\\s', '', 'g')))
               / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE)
               AS space_r,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE)
               AS digit_r
      FROM documents)
    """,
)
def quality_filter_docs(spark, sf_dir):
    """Composite quality gate (the filter a curation pipeline applies
    before training): min token count + whitespace/digit ratio ceilings.
    Thresholds compare raw ratios — no rounding enters the decision, and
    only the integer verdict is emitted (ratio-valued features sit far
    from the thresholds with probability 1)."""
    feats = quality_features(F.col("text"))
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            (feats["n_tokens"] >= 5)
            & (feats["space_ratio"] <= 0.5)
            & (feats["digit_ratio"] <= 0.3)
        ).cast("int").alias("keep"),
    )


@register(
    "quality_cap_per_source",
    oracle="""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC
             ) AS rn
      FROM documents)
    WHERE rn <= 40
    """,
)
def quality_cap_per_source(spark, sf_dir):
    """Frequency cap, best-first: at most 40 docs per source, keeping the
    longest (quality proxy) with deterministic id tie-break."""
    from polygon_algotrading_env_spark.operators.sampling import (
        quality_cap_per_group,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quality_cap_per_group(
        docs, ["source"], "n_chars", cap=40, tie_col="doc_id"
    )


@register(
    "curriculum_stages_by_length",
    oracle="""
    SELECT doc_id, lang,
           CAST(ntile(4) OVER (PARTITION BY lang
                               ORDER BY n_chars ASC, doc_id ASC) AS INT) AS stage
    FROM documents
    """,
)
def curriculum_stages_by_length(spark, sf_dir):
    """Curriculum assignment: 4 equal-size stages per language by
    ascending document length (easy → hard), via one ntile window."""
    from polygon_algotrading_env_spark.operators.sampling import (
        curriculum_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return curriculum_buckets(
        docs, ["n_chars", "doc_id"], n_stages=4, group_cols=["lang"]
    ).select("doc_id", "lang", "stage")


@register(
    "doc_rarity_scores",
    headline=True,
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_extract_all(lower(text),
                    '[\\p{L}\\p{N}]+'))) AS token
      FROM documents
    ),
    model AS (SELECT token, count(*) AS df FROM toks GROUP BY token)
    SELECT t.doc_id,
           CAST(sum(m.df) AS BIGINT)   AS sum_df,
           CAST(count(*) AS BIGINT)    AS n_model_tokens
    FROM toks t JOIN model m USING (token)
    GROUP BY t.doc_id
    """,
)
def doc_rarity_scores_q(spark, sf_dir):
    """Corpus-frequency document scoring (CCNet-style, engine-native):
    build the token document-frequency model in one aggregation, score
    every document by exact integer (sum_df, n_model_tokens) — the
    rare-vocabulary / boilerplate-vocabulary signal, no float in sight."""
    from polygon_algotrading_env_spark.operators.corpus import doc_rarity_scores

    docs = load_table(spark, sf_dir, "documents")
    return doc_rarity_scores(docs)


@register(
    "stratified_sample_by_lang",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
      FROM documents)
    WHERE h < CASE lang WHEN 'en' THEN '8000'
                        WHEN 'de' THEN '4000'
                        ELSE '2000' END
    """,
)
def stratified_sample_by_lang(spark, sf_dir):
    """Per-language sampling at deterministic hash rates (50% en, 25% de,
    12.5% rest) — the reproducible alternative to seeded sampleBy: a doc's
    fate depends only on its own key, never on engine RNG or row order.
    Pure filter, zero shuffles."""
    from polygon_algotrading_env_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "doc_id", {"en": 0.5, "de": 0.25}, "lang", default_fraction=0.125
    ).select("doc_id", "lang")


@register(
    "train_test_contamination",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN h < 'cccc' THEN 'train'
                  WHEN h < 'e666' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, text,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
            FROM documents)
      WHERE length(text) >= 8
    ),
    sh AS (
      SELECT doc_id, split,
             unnest(list_distinct([substring(lower(text), i, 8)
                                   FOR i IN range(1, length(text) - 6)]))
               AS shingle
      FROM base
    ),
    tr AS (
      SELECT shingle, doc_id AS train_doc_id,
             count(*) OVER (PARTITION BY shingle) AS df
      FROM sh WHERE split = 'train'
    ),
    te AS (SELECT shingle, doc_id AS test_doc_id FROM sh WHERE split = 'test')
    SELECT te.test_doc_id,
           CAST(count(DISTINCT te.shingle) AS BIGINT)      AS n_shared_shingles,
           CAST(count(DISTINCT tr.train_doc_id) AS BIGINT) AS n_train_docs
    FROM te JOIN tr ON te.shingle = tr.shingle AND tr.df <= 64
    GROUP BY te.test_doc_id
    """,
)
def train_test_contamination(spark, sf_dir):
    """Benchmark-leakage audit over the certified hash split: per test
    document, the count of 8-gram shingles (and distinct train documents)
    it shares with the train split, ignoring shingles in >64 train docs —
    boilerplate is not leakage, and the cap bounds the shingle-join
    fan-out (the hot-key guard that matters at corpus scale)."""
    from polygon_algotrading_env_spark.operators.corpus import (
        cross_split_contamination,
    )
    from polygon_algotrading_env_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return cross_split_contamination(hash_split(docs, "doc_id"))


@register(
    "weighted_sample_by_length",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 + 0.5) / 281474976710656.0) / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    ),
    r AS (
      SELECT doc_id, lang, es_key,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, lang, round(es_key, 6) AS es_key
    FROM r WHERE rn <= 5
    """,
)
def weighted_sample_by_length(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis–Spirakis, hash-derived
    uniforms): top-5 docs per language with selection probability ∝
    n_chars. Certified cross-engine because the 'randomness' is md5 of
    the key — the reproducibility that seeded RNG sampling cannot give
    (operators/sampling.py: weighted_sample_per_group)."""
    from polygon_algotrading_env_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    out = weighted_sample_per_group(
        docs, weight_col="n_chars", k=5, group_cols=("lang",), key_col="doc_id"
    )
    return out.select("doc_id", "lang", F.round("es_key", 6).alias("es_key"))


@register(
    "mixture_resample_by_lang",
    oracle="""
    WITH w(lang, wt) AS (
      VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15), ('fr', 0.15),
             ('zh', 0.15)
    ),
    counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    c AS (SELECT min(n / wt) AS c FROM counts JOIN w USING (lang)),
    t AS (SELECT lang, floor(wt * c.c) AS quota FROM w, c),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang FROM r JOIN t USING (lang) WHERE rn <= t.quota
    """,
)
def mixture_resample_by_lang(spark, sf_dir):
    """Domain reweighting to a target language mixture (40% en, 15% each
    other) with maximum retention: the binding group keeps ~all its docs
    and every quota is floor(w·c) off the same scale factor, so realized
    shares hit the targets to within rounding (operators/sampling.py).
    The oracle replays the identical arithmetic — same division order,
    same floor — so quota boundaries cannot disagree."""
    from polygon_algotrading_env_spark.operators.sampling import (
        mixture_resample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    weights = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
    return mixture_resample(docs, "lang", weights).select("doc_id", "lang")


@register(
    "novelty_by_first_occurrence",
    oracle="""
    WITH doc AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                                   FOR i IN range(1, n - 3)])) AS gram
      FROM doc WHERE n >= 5
    ),
    f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS n_novel,
           round(count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) * 1.0
                 / count(*), 6) AS novelty
    FROM g JOIN f USING (gram)
    GROUP BY 1
    """,
)
def novelty_by_first_occurrence(spark, sf_dir):
    """Per-document novelty under corpus order: the fraction of a doc's
    distinct token 5-grams whose FIRST global occurrence (min doc_id) is
    this doc — the dataset-ordering signal behind 'later shards add
    nothing new' curation cuts, complementary to rarity scoring (which
    ignores order) and span dedup (which edits text). One explode of
    per-doc distinct grams feeds both the first-occurrence model (gram-
    keyed aggregate) and the join-back; grams, like any content key,
    shuffle once. Integer counts plus a round-6 ratio of small integers —
    tie-free."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n", F.size("toks")
    ).where(F.col("n") >= 5)
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - 4),
                    lambda i: F.array_join(F.slice("toks", i, 5), " "),
                )
            )
        ).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            F.round(novel * 1.0 / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


@register(
    "ngram_containment_adjacent",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(length(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
           CAST(length(a.s) AS BIGINT)                      AS n_a,
           CAST(length(b.s) AS BIGINT)                      AS n_b,
           round(length(list_intersect(a.s, b.s)) * 1.0
                 / length(a.s), 6)                          AS containment_a_in_b
    FROM sh a JOIN sh b
      ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    """,
)
def ngram_containment_adjacent(spark, sf_dir):
    """Asymmetric n-gram CONTAINMENT |A∩B|/|A| for the deterministic
    adjacent-pair set — the measure that catches 'doc A is embedded
    inside much-larger doc B', which symmetric Jaccard scores near zero
    (|A∩B|/|A∪B| → |A|/|B|) and MinHash-LSH therefore misses by design.
    The quote/excerpt/page-wrapper dedup case runs on this, not Jaccard.
    Set sizes ride along as exact integers so any threshold can be
    re-derived as integer comparisons; the float ratio is certified at
    6dp on exact rationals."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(char_ngrams("text", 5)).alias("s"),
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("s").alias("sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("s").alias("sb"),
    )
    j = a.join(
        b,
        (F.col("id_b") == F.col("id_a") + 1)
        & (F.col("lang_a") == F.col("lang_b")),
    )
    n_common = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    return j.select(
        "id_a",
        "id_b",
        n_common.alias("n_common"),
        F.size("sa").cast("bigint").alias("n_a"),
        F.size("sb").cast("bigint").alias("n_b"),
        F.round(n_common * 1.0 / F.size("sa"), 6).alias("containment_a_in_b"),
    )


@register(
    "cluster_aware_split",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
      WHERE 2 * length(list_intersect(a.s, b.s))
            >= length(list_distinct(list_concat(a.s, b.s)))
    ),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
    ),
    clu AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id)
    SELECT doc_id, cluster,
           CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train'
                WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 4) < 'e666'
                THEN 'val'
                ELSE 'test' END AS split
    FROM clu
    """,
)
def cluster_aware_split(spark, sf_dir):
    """Leakage-free train/val/test split: hash the near-dup CLUSTER id,
    not the document id, so every member of a duplicate cluster lands in
    the SAME split — the fix for the standard evaluation bug where a
    test document's near-duplicate sits in train and inflates every
    metric. Composes two certified pieces (connected components over
    exact-Jaccard edges; the md5 hex-cut split) and certifies the
    composition: the oracle replays reachability with a recursive CTE
    and the identical hash cut. At scale the cluster labels are a silver
    table; the split is a pure projection on top."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams
    from polygon_algotrading_env_spark.operators.graph import (
        connected_components,
    )
    from polygon_algotrading_env_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", F.array_distinct(char_ngrams("text", 5)).alias("s")
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"),
        F.col("s").alias("sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"),
        F.col("s").alias("sb"),
    )
    edges = (
        a.join(
            b,
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("lang_a") == F.col("lang_b")),
        )
        .filter(
            2 * F.size(F.array_intersect("sa", "sb"))
            >= F.size(F.array_union("sa", "sb"))
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = connected_components(
        edges, vertices=docs.select("doc_id"), id_col="doc_id"
    ).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )
    return hash_split(labels, "cluster").select("doc_id", "cluster", "split")


@register(
    "quality_percentile_by_lang",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang,
             length(trim(text))
               - length(replace(trim(text), ' ', '')) + 1 AS n_tokens
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(percent_rank() OVER (PARTITION BY lang
                                      ORDER BY n_tokens, doc_id), 6)
             AS quality_pctile
    FROM q
    """,
)
def quality_percentile_by_lang(spark, sf_dir):
    """Language-fair quality normalization: each document's quality signal
    (token count here — swap in any score) converted to its percentile
    WITHIN its language. Thresholding a raw score across languages
    silently biases the corpus (different languages have different score
    distributions — the known multilingual-filtering failure); 'keep the
    top 70% of every language' needs exactly this per-partition
    percent_rank, tie-broken by doc_id so both engines rank identically.
    One window per language partition — no global sort."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    from pyspark.sql import Window

    n_tokens = (
        F.length(F.trim("text"))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )
    q = docs.select(
        "doc_id", "lang", n_tokens.cast("bigint").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return q.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.percent_rank().over(w), 6).alias("quality_pctile"),
    )


@register(
    "hapax_ratio_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT source, tok, count(*) AS n FROM tok GROUP BY 1, 2)
    SELECT source,
           count(*)                                        AS vocab,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                AS BIGINT)                                 AS hapax,
           round(sum(CASE WHEN n = 1 THEN 1.0 ELSE 0 END)
                 / count(*), 6)                            AS hapax_ratio
    FROM tf GROUP BY 1
    """,
)
def hapax_ratio_by_source(spark, sf_dir):
    """Lexical-richness audit per source: the share of each source's
    vocabulary appearing exactly once (hapax legomena) — natural text
    runs ~40-60%, template/boilerplate mills run low, and random
    generators run high, so the ratio separates organic sources from
    synthetic ones before any model-based quality scoring. One tokenize
    pass, per-source vocabulary aggregate, exact integer counts."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    tf = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        hapax.alias("hapax"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


@register(
    "dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
      WHERE 2 * length(list_intersect(a.s, b.s))
            >= length(list_distinct(list_concat(a.s, b.s)))
    ),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
    ),
    clu AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
    sizes AS (SELECT cluster, count(*) AS sz FROM clu GROUP BY 1)
    SELECT sz AS cluster_size,
           count(*)                       AS n_clusters,
           CAST(sz * count(*) AS BIGINT)  AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def dup_cluster_size_histogram(spark, sf_dir):
    """Dedup effect-size report: the near-dup cluster-size distribution —
    how many docs sit in singletons vs pairs vs bigger blobs — which is
    the number that decides whether dedup is worth a pipeline stage at
    all, and the denominator for 'X% of the corpus is redundant' claims.
    CC labels reduce to cluster sizes, sizes to a histogram; both
    reductions are tiny relative to the corpus."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams
    from polygon_algotrading_env_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", F.array_distinct(char_ngrams("text", 5)).alias("s")
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"),
        F.col("s").alias("sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"),
        F.col("s").alias("sb"),
    )
    edges = (
        a.join(
            b,
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("lang_a") == F.col("lang_b")),
        )
        .filter(
            2 * F.size(F.array_intersect("sa", "sb"))
            >= F.size(F.array_union("sa", "sb"))
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = connected_components(
        edges, vertices=docs.select("doc_id"), id_col="doc_id"
    )
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )


def _lang_confusion_oracle() -> str:
    from polygon_algotrading_env_spark.queries.text import _lang_oracle

    return f"""
    WITH pred AS ({_lang_oracle()})
    SELECT d.lang, p.lang_pred, count(*) AS n_docs
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY 1, 2
    """


@register("lang_label_confusion", oracle=_lang_confusion_oracle())
def lang_label_confusion(spark, sf_dir):
    """Metadata-vs-content audit: the confusion matrix between each
    document's DECLARED language label and the content-based stopword
    prediction — off-diagonal mass is either mislabeled metadata or a
    weak detector, and both mean language-conditioned curation (balanced
    downsampling, per-lang quality cuts) is slicing on a lie. Composes
    the certified lang-ID expression with the labels in one pass; the
    matrix is lang×lang grain."""
    from polygon_algotrading_env_spark.functions.text import (
        LANG_MARKERS,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    langs = list(LANG_MARKERS)
    hit_cols = [
        stopword_hits("text", ws).cast("int").alias(f"h_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *hit_cols)
    expr = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = F.col(f"h_{lang}") > 0
        for j, other in enumerate(langs):
            if other != lang:
                op = (
                    F.col(f"h_{lang}") >= F.col(f"h_{other}")
                    if j > i
                    else F.col(f"h_{lang}") > F.col(f"h_{other}")
                )
                cond = cond & op
        expr = F.when(cond, lang).otherwise(expr)
    return (
        scored.select("lang", expr.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- RAG-style chunking: overlapping token windows -------------------------
@register(
    "chunk_docs_overlap",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, len(toks), 24)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // 24 AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_token,
           CAST(least(32, n - start) AS INT) AS n_chunk_tokens,
           array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
    FROM s
    WHERE start = 0 OR start + 8 < n
    """,
)
def chunk_docs_overlap(spark, sf_dir):
    """Overlapping-window document chunking — the context-preparation
    primitive for RAG / embedding pipelines: whitespace tokens cut into
    32-token chunks with stride 24 (8-token overlap), emitting one row
    per (doc, chunk) with its token offset and reassembled text. The
    emission rule is the standard sliding-window chunker's: emit while
    the window starts inside the doc AND the previous window didn't
    already reach the end (start = 0 OR start + 8 < n) — so a 40-token
    doc yields exactly two chunks, not a redundant fully-contained
    third. All offsets are exact integers and the chunk text is an
    exact substring join ⇒ exact hash equality cross-engine. Scale: one
    narrow projection + a bounded explode (ceil(n/24) rows per doc, no
    shuffle at all — the chunker is map-side and composes with any
    downstream partitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    starts = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(24))
        ).alias("start"),
    ).where((F.col("start") == 0) | (F.col("start") + 8 < F.col("n")))
    return starts.select(
        "doc_id",
        (F.col("start") / 24).cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start_token"),
        F.least(F.lit(32), F.col("n") - F.col("start"))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("toks", F.col("start") + 1, F.lit(32))
        ).alias("chunk_text"),
    )


# --- dedup-index recall/precision audit -----------------------------------
_N_PROBES = 50


@register(
    "minhash_recall_report",
    oracle="WITH " + _mh_sig_sql() + "," + _MH_BAND_CAND_SQL + f""",
    sets AS (
      SELECT doc_id,
             {_SHINGLES_5_SQL} AS s
      FROM documents
    ),
    truth AS (
      SELECT DISTINCT least(p.doc_id, o.doc_id)    AS id_a,
                      greatest(p.doc_id, o.doc_id) AS id_b
      FROM sets p JOIN sets o
        ON p.doc_id < {_N_PROBES} AND o.doc_id <> p.doc_id
      WHERE 10 * length(list_intersect(p.s, o.s))
            >= 3 * length(list_distinct(list_concat(p.s, o.s)))
    ),
    pred AS (
      SELECT id_a, id_b FROM cand
      WHERE id_a < {_N_PROBES} OR id_b < {_N_PROBES}
    ),
    m AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents
         WHERE doc_id < {_N_PROBES})                          AS n_probes,
        (SELECT CAST(count(*) AS BIGINT) FROM truth)          AS n_truth,
        (SELECT CAST(count(*) AS BIGINT) FROM pred)           AS n_pred,
        (SELECT CAST(count(*) AS BIGINT)
         FROM truth t JOIN pred p USING (id_a, id_b))         AS tp
    )
    SELECT n_probes, n_truth, n_pred, tp,
           CAST(n_truth - tp AS BIGINT) AS fn,
           CAST(n_pred - tp AS BIGINT)  AS fp,
           round(CAST(tp AS DOUBLE) / n_truth, 6) AS recall,
           round(CAST(tp AS DOUBLE) / n_pred, 6)  AS precision
    FROM m
    """,
)
def minhash_recall_report(spark, sf_dir):
    """Recall/precision audit of the banded MinHash index against exact
    ground truth on a fixed 50-document probe set: truth = every (probe,
    corpus) pair with exact 5-gram Jaccard ≥ 0.3 (the integer
    cross-multiplication 10·|A∩B| ≥ 3·|A∪B|), prediction = the certified
    md5-band candidate pairs touching a probe. One exact-count row —
    tp/fn/fp BIGINTs plus recall/precision as deterministic divisions —
    the go/no-go scoreboard before trusting an LSH config at corpus
    scale (it catches exactly the failure the 2-band/4-row config shows
    on borderline 0.3-Jaccard pairs at larger corpora).

    Scale: ground truth comes from a SHINGLE-INDEX equi-join, not a
    probe×corpus pairing — the probe shingles (a 50-doc-bounded posting
    list) broadcast-join the exploded corpus shingles on the shingle
    itself, so only pairs sharing ≥1 shingle are ever scored (a pair
    with zero overlap has Jaccard 0 < 0.3, so the truth set is
    IDENTICAL); |A∩B| is the per-(doc, probe) match count over the
    distinct shingle sets and |A∪B| = |A|+|B|−|A∩B| from the per-doc
    sizes. Measured 29.3 s → ~7 s at the 100× corpus vs the former
    all-pairs array_intersect scan (which also needed a BNLJ allowlist
    entry — this plan is a plain broadcast hash join). Candidates come
    from the shared banded equi-join generator.

    Precondition: every document carries ≥1 five-char shingle (text
    length ≥ 5). The posting-list join can never produce an
    empty∩empty pair, whereas the raw 10·|A∩B| ≥ 3·|A∪B| test accepts
    one (0 ≥ 0) — so a sub-5-char doc would desynchronize this plan
    from the oracle. tests/test_round10_queries.py pins the fixture
    contract at every SF."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.array_distinct(char_ngrams("text", 5)).alias("s")
    )
    probes = sh.where(F.col("doc_id") < _N_PROBES).select(
        F.col("doc_id").alias("p_id"), F.col("s").alias("ps")
    )
    p_post = probes.select(
        "p_id", F.size("ps").alias("n_p"), F.explode("ps").alias("g")
    )
    c_post = sh.select(
        "doc_id", F.size("s").alias("n_d"), F.explode("s").alias("g")
    )
    inter = (
        c_post.join(F.broadcast(p_post), "g")
        .where(F.col("doc_id") != F.col("p_id"))
        .groupBy("doc_id", "p_id", "n_d", "n_p")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.where(
            10 * F.col("i")
            >= 3 * (F.col("n_d") + F.col("n_p") - F.col("i"))
        )
        .select(
            F.least("p_id", "doc_id").alias("id_a"),
            F.greatest("p_id", "doc_id").alias("id_b"),
        )
        .distinct()
    )
    cand = _md5_band_cand_df(_mh_sig_df(spark, sf_dir))
    pred = cand.where(
        (F.col("id_a") < _N_PROBES) | (F.col("id_b") < _N_PROBES)
    )
    n_probes = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_pred = pred.agg(F.count(F.lit(1)).alias("n_pred"))
    # probe-touching candidate pairs are a tiny slice of the candidate
    # relation — broadcast them so the tp intersection never sort-merges
    tp = (
        truth.join(F.broadcast(pred), ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    return (
        n_probes.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_pred))
        .crossJoin(F.broadcast(tp))
        .select(
            "n_probes",
            "n_truth",
            "n_pred",
            "tp",
            (F.col("n_truth") - F.col("tp")).alias("fn"),
            (F.col("n_pred") - F.col("tp")).alias("fp"),
            F.round(
                F.try_divide(F.col("tp").cast("double"), F.col("n_truth")), 6
            ).alias("recall"),
            F.round(
                F.try_divide(F.col("tp").cast("double"), F.col("n_pred")), 6
            ).alias("precision"),
        )
    )


# --- hashing-trick feature vectorizer -------------------------------------
@register(
    "hashed_token_features_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+'))
               AS token
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substring(md5(token), 1, 2))::BIGINT % 8 AS bucket,
             CASE WHEN ('0x' || substring(md5(token), 3, 1))::BIGINT % 2 = 1
                  THEN -1 ELSE 1 END AS sgn
      FROM toks
    )
    SELECT doc_id, bucket,
           CAST(sum(sgn) AS BIGINT)  AS feat,
           CAST(count(*) AS BIGINT)  AS n_tokens
    FROM h GROUP BY doc_id, bucket
    """,
)
def hashed_token_features_docs(spark, sf_dir):
    """Hashing-trick (feature-hashing) vectorizer: every token hashes to
    one of 8 buckets via md5, with a second md5 digit supplying the ±1
    sign that makes collisions cancel in expectation (Weinberger et al.'s
    signed hashing trick) — the fixed-dimension text featurizer that
    needs NO vocabulary broadcast, the property that matters at 100 TB
    (vocab-free ⇒ embarrassingly parallel, one explode + one (doc,
    bucket) map-side-combined aggregate). Emitted sparse as (doc_id,
    bucket, signed sum, token count) exact BIGINTs; both engines compute
    the identical md5 mixes."""
    from polygon_algotrading_env_spark.functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(word_tokens("text")).alias("token")
    )
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 2), 16, 10).cast("bigint") % 8
    )
    sgn = F.when(
        F.conv(F.substring(F.md5("token"), 3, 1), 16, 10).cast("bigint") % 2
        == 1,
        F.lit(-1),
    ).otherwise(F.lit(1))
    return (
        toks.select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").alias("feat"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


# --- corpus source-similarity matrix --------------------------------------
@register(
    "source_token_cosine_pairs",
    oracle="""
    WITH tf AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+'))
                 AS token
        FROM documents
      ) GROUP BY 1, 2
    ),
    norms AS (
      SELECT source, CAST(sum(c * c) AS BIGINT) AS nn FROM tf GROUP BY 1
    ),
    dots AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot
      FROM tf a JOIN tf b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT d.src_a, d.src_b, d.dot, na.nn AS norm_a, nb.nn AS norm_b,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE))
                    * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.source = d.src_a
    JOIN norms nb ON nb.source = d.src_b
    """,
)
def source_token_cosine_pairs(spark, sf_dir):
    """Corpus-segment similarity matrix: cosine between every pair of
    sources' term-frequency vectors, with the dot products and squared
    norms as exact BIGINT aggregates (cosine is then one deterministic
    double recipe) — the mixture-design diagnostic that says which
    sources are near-duplicates of each other BEFORE weighting them as
    if independent. Plan: one (source, token) hash aggregate, then the
    pairwise dots via a self-equi-join ON TOKEN (inverted-index shape:
    fan-out bounded by per-token source lists, never |sources|²·vocab),
    map-side-combined into the |S|²/2 pair cells; norms are a
    vocab-sized aggregate broadcast back."""
    from polygon_algotrading_env_spark.functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(word_tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = tf.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).alias("nn")
    )
    a = tf.select(
        F.col("source").alias("src_a"), "token", F.col("c").alias("ca")
    )
    b = tf.select(
        F.col("source").alias("src_b"), "token", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "token")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("source").alias("src_a"), F.col("nn").alias("norm_a"))
    nb = norms.select(F.col("source").alias("src_b"), F.col("nn").alias("norm_b"))
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "dot",
            "norm_a",
            "norm_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("norm_a").cast("double"))
                    * F.sqrt(F.col("norm_b").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


# --- weighted reservoir sampling (Efraimidis–Spirakis), md5-derandomized ---
@register(
    "reservoir_sample_docs",
    oracle="""
    SELECT doc_id, n_chars, key FROM (
      SELECT doc_id, n_chars,
             round(ln((('0x' || substring(md5('res|' || doc_id), 1, 12))
                       ::BIGINT + 0.5) / 281474976710656.0)
                   / n_chars, 12) AS key
      FROM documents WHERE n_chars > 0
    )
    ORDER BY key DESC, doc_id ASC LIMIT 25
    """,
)
def reservoir_sample_docs(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each document draws the md5 uniform u = md5('res|doc_id') and ranks
    by ln(u)/weight with weight = n_chars — the top-k under that key IS
    an exact weighted sample without replacement, and the md5
    derandomization makes membership identical on any engine, run, or
    partitioning (the repo's reproducible-randomness idiom). ln(u)/w is
    rounded to a 12dp grid (cross-engine libm noise is ~1e-16 relative,
    four orders below the grid) with doc_id tiebreak. Plan: one scan +
    TakeOrderedAndProject — per-partition heaps, no global sort; at
    100 TB this is how you draw quality-weighted pretraining mixtures
    deterministically."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("res|"), F.col("doc_id").cast("string"))), 1, 12),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    return (
        docs.select("doc_id", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), F.col("doc_id").asc())
        .limit(25)
    )


# --- stratified k-fold assignment (md5-derandomized) ------------------------
@register(
    "stratified_kfold_assignments",
    oracle="""
    SELECT doc_id, lang,
           CAST((row_number() OVER (PARTITION BY lang
                                    ORDER BY md5('kf|' || doc_id), doc_id)
                 - 1) % 5 AS INT) AS fold
    FROM documents
    """,
)
def stratified_kfold_assignments(spark, sf_dir):
    """Stratified 5-fold cross-validation assignment, md5-derandomized:
    within each language stratum, documents are ranked by the md5 key
    md5('kf|doc_id') (collision-free shuffle order, identical on any
    engine/run/partitioning) and dealt round-robin into folds — so per
    stratum the fold sizes differ by at most one, the balance guarantee
    naive ``rand() % k`` loses. The per-stratum ranks come from the
    distributed grid machinery (operators/rankstats.py) rather than a
    stratum-keyed window, so a skewed stratum never funnels one task.
    Evaluation-pipeline primitive: leakage-free folds whose membership
    is reproducible forever from doc_id alone."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grid_rank_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(
            F.concat(F.lit("kf|"), F.col("doc_id").cast("string"))
        ).alias("__k"),
    )
    # md5 keys are collision-free, so every (lang, __k) grid cell holds
    # exactly one document and cum_le IS the document's 1-based rank in
    # its stratum; doc_id comes back via the 1:1 join on (lang, __k).
    stats = grid_rank_stats(docs.select("lang", "__k"), "__k", ["lang"])
    return stats.join(docs, ["lang", "__k"]).select(
        "doc_id",
        "lang",
        ((F.col("cum_le") - 1) % 5).cast("int").alias("fold"),
    )


# --- corpus diversity: self-BLEU over a deterministic pair set --------------
@register(
    "self_bleu_adjacent_docs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS token,
             generate_subscripts(regexp_extract_all(lower(text),
                                                    '[\p{L}\p{N}]+'), 1) AS pos
      FROM documents
    ),
    cu AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    tl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    big AS (
      SELECT a.doc_id, a.token AS t1, b.token AS t2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cb AS (
      SELECT doc_id, t1, t2, CAST(count(*) AS BIGINT) AS c
      FROM big GROUP BY 1, 2, 3
    ),
    bl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM documents a JOIN documents b
        ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    ),
    u AS (
      SELECT p.id_a, p.id_b,
             CAST(coalesce(sum(least(ca.c, cbn.c)), 0) AS BIGINT) AS m1
      FROM pairs p
      LEFT JOIN cu ca ON ca.doc_id = p.id_a
      LEFT JOIN cu cbn ON cbn.doc_id = p.id_b AND cbn.token = ca.token
      GROUP BY 1, 2
    ),
    g AS (
      SELECT p.id_a, p.id_b,
             CAST(coalesce(sum(least(ga.c, gb.c)), 0) AS BIGINT) AS m2
      FROM pairs p
      LEFT JOIN cb ga ON ga.doc_id = p.id_a
      LEFT JOIN cb gb ON gb.doc_id = p.id_b AND gb.t1 = ga.t1
                     AND gb.t2 = ga.t2
      GROUP BY 1, 2
    )
    SELECT u.id_a, u.id_b, u.m1,
           coalesce(tb.n, 0)  AS t1,
           g.m2,
           coalesce(blb.n, 0) AS t2,
           round(CASE WHEN u.m1 = 0 OR g.m2 = 0 THEN 0.0
                ELSE (CASE WHEN tb.n >= ta.n THEN 1.0
                           ELSE exp(1.0 - CAST(ta.n AS DOUBLE) / tb.n) END)
                     * sqrt((CAST(u.m1 AS DOUBLE) / tb.n)
                            * (CAST(g.m2 AS DOUBLE) / blb.n))
           END, 6) AS bleu2
    FROM u
    JOIN g USING (id_a, id_b)
    LEFT JOIN tl ta ON ta.doc_id = u.id_a
    LEFT JOIN tl tb ON tb.doc_id = u.id_b
    LEFT JOIN bl blb ON blb.doc_id = u.id_b
    """,
)
def self_bleu_adjacent_docs(spark, sf_dir):
    """Corpus diversity via self-BLEU on a deterministic pair set: for
    each adjacent (doc, doc+1) pair within a language, BLEU-2 of the
    second document against the first — high self-BLEU flags a corpus
    collapsing into template/near-duplicate text, the diversity
    complement of the dedup tier. Clipped n-gram matches (m1, m2) and
    totals are EXACT BIGINTs (min of per-doc counts summed over the
    joint vocabulary); bleu2 = BP·sqrt(p1·p2) is one fixed double recipe
    from those integers — the geometric mean avoids exp/ln entirely and
    the brevity penalty's exp takes an identical ratio on both engines.
    Plan: one tokenize pass feeds unigram/bigram count relations keyed
    (doc, gram) — pair matching shuffles on those high-cardinality keys,
    never funneling a language; zero-overlap and sub-2-token documents
    fall out as m=0 → bleu 0, not NULL/divide errors."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    from polygon_algotrading_env_spark.functions.text import word_tokens

    toks = docs.select(
        "doc_id", F.posexplode(word_tokens("text")).alias("pos", "token")
    )
    cu = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    tl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("t2", F.lead("token").over(w))
        .where(F.col("t2").isNotNull())
        .select("doc_id", F.col("token").alias("t1"), "t2")
    )
    cb = big.groupBy("doc_id", "t1", "t2").agg(
        F.count(F.lit(1)).alias("c")
    )
    bl = big.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        docs.select(F.col("doc_id").alias("id_a"), "lang")
        .join(
            docs.select(F.col("doc_id").alias("id_b"), "lang"),
            "lang",
        )
        .where(F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b")
    )
    ca = cu.select(
        F.col("doc_id").alias("id_a"), "token", F.col("c").alias("ca")
    )
    cbn = cu.select(
        F.col("doc_id").alias("id_b"), "token", F.col("c").alias("cb")
    )
    m1 = (
        pairs.join(ca, "id_a", "left")
        .join(cbn, ["id_b", "token"], "left")
        .groupBy("id_a", "id_b")
        .agg(
            F.coalesce(F.sum(F.least("ca", "cb")), F.lit(0))
            .cast("bigint")
            .alias("m1")
        )
    )
    ga = cb.select(
        F.col("doc_id").alias("id_a"), "t1", "t2", F.col("c").alias("ca")
    )
    gb = cb.select(
        F.col("doc_id").alias("id_b"), "t1", "t2", F.col("c").alias("cb")
    )
    m2 = (
        pairs.join(ga, "id_a", "left")
        .join(gb, ["id_b", "t1", "t2"], "left")
        .groupBy("id_a", "id_b")
        .agg(
            F.coalesce(F.sum(F.least("ca", "cb")), F.lit(0))
            .cast("bigint")
            .alias("m2")
        )
    )
    ta = tl.select(F.col("doc_id").alias("id_a"), F.col("n").alias("ra"))
    tb = tl.select(F.col("doc_id").alias("id_b"), F.col("n").alias("cb_len"))
    blb = bl.select(F.col("doc_id").alias("id_b"), F.col("n").alias("b_len"))
    joined = (
        m1.join(m2, ["id_a", "id_b"])
        .join(ta, "id_a", "left")
        .join(tb, "id_b", "left")
        .join(blb, "id_b", "left")
    )
    bp = F.when(
        F.col("cb_len") >= F.col("ra"), F.lit(1.0)
    ).otherwise(
        F.exp(
            F.lit(1.0) - F.col("ra").cast("double") / F.col("cb_len")
        )
    )
    bleu = F.when(
        (F.col("m1") == 0) | (F.col("m2") == 0), F.lit(0.0)
    ).otherwise(
        bp
        * F.sqrt(
            (F.col("m1").cast("double") / F.col("cb_len"))
            * (F.col("m2").cast("double") / F.col("b_len"))
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        "m1",
        F.coalesce("cb_len", F.lit(0)).cast("bigint").alias("t1"),
        "m2",
        F.coalesce("b_len", F.lit(0)).cast("bigint").alias("t2"),
        F.round(bleu, 6).alias("bleu2"),
    )


# --- CMS token frequencies (the corpus-scale counter use case) -------------
@register(
    "cms_token_freq_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS v(row)),
    cms AS MATERIALIZED (
      SELECT row,
             ('0x' || substring(md5(CAST(row AS VARCHAR) || '|' || t),
                                1, 8))::BIGINT % 1024 AS bucket,
             count(*) AS cnt
      FROM tok CROSS JOIN r GROUP BY 1, 2
    ),
    tc AS (SELECT t, count(*) AS true_cnt FROM tok GROUP BY 1),
    top AS (
      SELECT t, true_cnt FROM tc ORDER BY true_cnt DESC, t LIMIT 32
    ),
    probes AS (
      SELECT tp.t, r.row,
             ('0x' || substring(md5(CAST(r.row AS VARCHAR) || '|' || tp.t),
                                1, 8))::BIGINT % 1024 AS bucket
      FROM top tp CROSS JOIN r
    ),
    est AS (
      SELECT p.t, min(c.cnt) AS est_cnt
      FROM probes p JOIN cms c ON c.row = p.row AND c.bucket = p.bucket
      GROUP BY 1
    )
    SELECT tp.t                                    AS token,
           CAST(tp.true_cnt AS BIGINT)             AS true_cnt,
           CAST(e.est_cnt AS BIGINT)               AS est_cnt,
           CAST(e.est_cnt - tp.true_cnt AS BIGINT) AS overshoot
    FROM top tp JOIN est e ON e.t = tp.t
    """,
)
def cms_token_freq_topk(spark, sf_dir):
    """Count-Min token frequencies over the document corpus — the
    LLM-pipeline use the sketch exists for: token/n-gram counting at
    corpus scale where the exact per-token aggregate is the shuffle you
    can't afford and a grid-bounded counter relation (4 x 1024 bigints
    here) is the state you can. The 32 heaviest whitespace tokens ride
    along with exact counts so the certified output pins estimate vs
    truth; estimates never undercount (law-tested on the operator).
    Same plan economics as cms_partkey_freq_topk: the depth-x explode
    partial-aggregates map-side to a grid-bounded exchange and the
    probe join broadcasts the counter relation; the tokenizer is the
    hapax oracle's whitespace split so both engines count identical
    tokens."""
    from polygon_algotrading_env_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )

    toks = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
        )
    )
    cms = cms_build(toks, "token", depth=4, width=1024)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "token")
        .limit(32)
    )
    est = cms_point_estimates(cms, top, "token", depth=4, width=1024)
    return top.join(est, "token").select(
        "token",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        F.col("est_cnt"),
        (F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias(
            "overshoot"
        ),
    )


# --- PMI collocations (the classic corpus-phrase miner) ---------------------
@register(
    "pmi_collocations_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS token,
             generate_subscripts(regexp_extract_all(lower(text),
                                                    '[\p{L}\p{N}]+'), 1) AS pos
      FROM documents
    ),
    big AS (
      SELECT a.token AS t1, b.token AS t2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cxy AS MATERIALIZED (
      SELECT t1, t2, CAST(count(*) AS BIGINT) AS pair_cnt
      FROM big GROUP BY 1, 2
    ),
    cl AS (SELECT t1, CAST(sum(pair_cnt) AS BIGINT) AS cl FROM cxy GROUP BY 1),
    cr AS (SELECT t2, CAST(sum(pair_cnt) AS BIGINT) AS cr FROM cxy GROUP BY 1),
    tot AS (SELECT CAST(sum(pair_cnt) AS BIGINT) AS n FROM cxy)
    SELECT x.t1, x.t2, x.pair_cnt,
           ROUND(ln(CAST(x.pair_cnt * tot.n AS DOUBLE)
                    / CAST(cl.cl * cr.cr AS DOUBLE)), 6) AS pmi
    FROM cxy x
    JOIN cl ON cl.t1 = x.t1
    JOIN cr ON cr.t2 = x.t2
    CROSS JOIN tot
    WHERE x.pair_cnt >= 5
    ORDER BY pmi DESC, x.t1, x.t2
    LIMIT 20
    """,
)
def pmi_collocations_topk(spark, sf_dir):
    """Top-20 bigram collocations by pointwise mutual information — the
    classic corpus-phrase miner (Church & Hanks 1990): PMI =
    ln(p(x,y) / (p(x)·p(y))) over the adjacent-bigram event space, with
    all three marginals taken from the SAME bigram relation so the
    probabilities share one denominator. High-PMI pairs are the
    multi-word expressions a tokenizer/phrase-vocab pass should learn;
    the min-count 5 floor is the standard guard against PMI's
    low-frequency bias. Cross-engine determinism: every count is an
    exact BIGINT, the ratio (pair_cnt·N)/(cl·cr) is ONE double division
    of exact products (< 2^53 through 100x) and ONE ln call, and the
    top-20 cut orders by the ROUNDED pmi with (t1, t2) tie-breaks —
    identical sort keys on both engines. Plan shape: bigrams pair via
    explode(sequence)+element_at over the token array — codegen index
    arithmetic, no (doc, pos) window exchange, no per-doc sort (r15;
    the dsir shape) — so the only corpus-sized shuffle is the
    partial-aggregated global pair-count exchange (bigram counts repeat
    heavily across documents, so map-side combine collapses it toward
    the vocab²-bounded grid; measured 2× at 100×-of-sf0.01, see
    OPTIMIZATION_r15.md); the marginals are vocab-bounded broadcasts,
    the total a 1-row cross join."""
    from polygon_algotrading_env_spark.functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    arr = docs.select(word_tokens("text").alias("__a"))
    big = arr.select(
        "__a",
        F.explode(
            F.when(
                F.size("__a") >= 2, F.sequence(F.lit(2), F.size("__a"))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    ).select(
        F.element_at(F.col("__a"), F.col("__i") - 1).alias("t1"),
        F.element_at(F.col("__a"), F.col("__i")).alias("t2"),
    )
    cxy = big.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_cnt")
    )
    cl = cxy.groupBy("t1").agg(F.sum("pair_cnt").cast("bigint").alias("cl"))
    cr = cxy.groupBy("t2").agg(F.sum("pair_cnt").cast("bigint").alias("cr"))
    tot = cxy.agg(F.sum("pair_cnt").cast("bigint").alias("n"))
    pmi = F.round(
        F.log(
            (F.col("pair_cnt") * F.col("n")).cast("double")
            / (F.col("cl") * F.col("cr")).cast("double")
        ),
        6,
    )
    return (
        cxy.join(F.broadcast(cl), "t1")
        .join(F.broadcast(cr), "t2")
        .crossJoin(F.broadcast(tot))
        .where(F.col("pair_cnt") >= 5)
        .select("t1", "t2", "pair_cnt", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(20)
    )


# --- TextRank keywords (graph centrality over the co-occurrence graph) -----
@register(
    "textrank_keywords_top20",
    oracle=r"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS token,
             generate_subscripts(regexp_extract_all(lower(text),
                                                    '[\p{L}\p{N}]+'), 1) AS pos
      FROM documents
    ),
    raw AS (
      SELECT a.token AS t1, b.token AS t2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.token <> b.token
    ),
    -- single DISTINCT over a UNION ALL, NOT two DISTINCTs merged by
    -- UNION: a set-semantics UNION referenced from inside the recursive
    -- member degrades to UNION ALL under DuckDB 1.0.0's recursive
    -- planner (observed: 1770 edge rows inside the loop vs 900 outside,
    -- which skews every outdeg), while a plain DISTINCT — the certified
    -- pagerank_copurchase_top20 shape — survives intact.
    edges AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT t1 AS u, t2 AS v FROM raw
        UNION ALL
        SELECT t2 AS u, t1 AS v FROM raw
      )
    ),"""
    + PAGERANK_ROUNDS_CTE
    + r"""
    SELECT id AS token, round(rank, 8) AS rank
    FROM ranks WHERE iter = 6
    ORDER BY round(rank, 8) DESC, id
    LIMIT 20
    """,
)
def textrank_keywords_top20(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    (6 rounds, d=0.85) over the UNWEIGHTED distinct adjacent-token
    co-occurrence graph — the original paper's keyword configuration —
    top-20 tokens by centrality. The graph tier meeting the corpus
    tier: where tf/idf ranks tokens by counting, TextRank ranks them by
    recommendation flow through the co-occurrence structure, surfacing
    connector terms frequency alone misses. Plan: bigrams pair via
    explode(sequence)+element_at over the token array — codegen index
    arithmetic, no (doc, pos) window exchange, no per-doc sort — and
    BOTH edge directions fan out of the same generated row (a 2-element
    struct array explode), so the union-free corpus pass feeds the
    distinct-edge aggregate directly (r15; measured 3.6× at
    100×-of-sf0.01, see OPTIMIZATION_r15.md). The distinct edge
    relation and everything after it are VOCAB²-bounded, so the six
    power-iteration rounds run on a graph whose size is independent of
    corpus row count (operators/graph.py: pagerank — degree pinned
    once, dangling mass via exchange reuse, lineage checkpointed).
    Oracle: the same 6 fixed rounds as the certified
    pagerank_copurchase_top20 recursive CTE, with the emitted-mass
    window SUM enforcing rank conservation; consumers round to 8dp
    (float inflow sums carry last-ulp order noise)."""
    from polygon_algotrading_env_spark.functions.text import word_tokens
    from polygon_algotrading_env_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    arr = docs.select(word_tokens("text").alias("__a"))
    t1 = F.element_at(F.col("__a"), F.col("__i") - 1)
    t2 = F.element_at(F.col("__a"), F.col("__i"))
    und = (
        arr.select(
            "__a",
            F.explode(
                F.when(
                    F.size("__a") >= 2, F.sequence(F.lit(2), F.size("__a"))
                ).otherwise(F.array().cast("array<int>"))
            ).alias("__i"),
        )
        .where(t1 != t2)
        .select(
            F.explode(
                F.array(
                    F.struct(t1.alias("src"), t2.alias("dst")),
                    F.struct(t2.alias("src"), t1.alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .dropDuplicates(["src", "dst"])
    )
    pr = pagerank(und, n_iter=6)
    return (
        pr.select(
            F.col("id").alias("token"), F.round("rank", 8).alias("rank")
        )
        .orderBy(F.desc("rank"), "token")
        .limit(20)
    )
