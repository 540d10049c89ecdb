"""Embedding / array-column queries (extension surface: similarity search
for training-data pipelines).

Scores are computed in double and rounded to 6 decimals on both engine
sides: accumulation order is sequential in both (Spark ``aggregate`` higher-
order fold, DuckDB list functions), so rounded values match.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile

import pyspark.sql.functions as F

from polygon_algotrading_env_spark.catalog import load_table, read_parquet
from polygon_algotrading_env_spark.functions.vectors import (
    cosine,
    dot,
    dot_sql,
    norm,
    vector_sql,
)
from polygon_algotrading_env_spark.operators.similarity import (
    cosine_topk,
    pairwise_cosine_topk,
)
from polygon_algotrading_env_spark.queries import register


# --- array explode (engine array/JSON surface, SURVEY §2.9 note) ----------
@register(
    "explode_embedding_head",
    oracle="""
    SELECT vec_id, CAST(pos AS INT) AS pos, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)                     AS val
      FROM embeddings
    )
    WHERE pos < 8
    """,
)
def explode_embedding_head(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .filter(F.col("pos") < 8)
        .select("vec_id", F.col("pos").cast("int"), F.col("val").cast("double"))
    )


# --- vector norms (aggregate/zip_with JVM-side math) ----------------------
@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.round(norm("embedding"), 6).alias("l2_norm")
    )


_QUERY_VEC_CACHE: dict[tuple[str, float], list[float]] = {}


def _query_vec(spark, sf_dir) -> list[float]:
    """Deterministic probe vector: embedding of vec_id = 0. Cached per
    (fixture dir, embeddings mtime) — the ANN queries model a query
    SERVICE, where the probe vector arrives with the request;
    re-scanning the corpus for it on every query would charge an O(n)
    cost that isn't part of the probe. The mtime key means a regenerated
    fixture in the same process never reuses a stale probe."""
    path = os.path.abspath(sf_dir)
    try:
        mtime = os.path.getmtime(os.path.join(path, "embeddings.parquet"))
    except OSError:
        mtime = 0.0
    key = (path, mtime)
    if key not in _QUERY_VEC_CACHE:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0]
        )
        _QUERY_VEC_CACHE[key] = list(row["embedding"])
    return _QUERY_VEC_CACHE[key]


_TOPK_ORACLE = """
    SELECT vec_id, round(score, 6) AS score FROM (
      SELECT e.vec_id,
             list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                              q.qv)
             / (sqrt(list_sum(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS score
      FROM embeddings e,
           (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id = 0) q
    )
    ORDER BY round(score, 6) DESC, vec_id ASC LIMIT 20
"""


@register("cosine_topk_bruteforce", headline=True, oracle=_TOPK_ORACLE)
def cosine_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-20 to a probe vector — the ANN baseline. Planned as
    a single scan + TakeOrderedAndProject (per-partition heaps, no global
    sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=20)


def _ann_index_dir(sf_dir: str, kind: str) -> str:
    """Per-fixture ANN index cache location, keyed by the embeddings
    table's identity AND mtime so a regenerated fixture invalidates the
    index instead of silently probing stale buckets."""
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    try:
        stamp = str(os.stat(src).st_mtime_ns)
    except OSError:
        stamp = "missing"
    key = hashlib.md5(f"{src}|{stamp}".encode()).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_ann_index", key, kind
    )


# SRP hyperplanes shared with the DuckDB oracles (used by the indexed
# lsh_ann_topk probe below AND the scan-side srp_* pair further down):
# component h(p,d) derives from md5("srp|p|d") — computable
# bit-identically in Python (driver-side constants for the Spark plan)
# and in DuckDB SQL — and both engines take sequential left-to-right
# dot products, so every vector's bucket, the probe's candidate set,
# and the exact re-rank all hash-match.
_SRP_PLANES = 6

_SRP_BUCKET_CTE = """
    comp AS (
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
    )
"""


def _md5_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Hyperplane constants shared with the DuckDB oracle: component (p,d)
    = md5("srp|p|d")'s first 8 hex digits mapped to [-1, 1]."""
    return [
        [
            int(hashlib.md5(f"srp|{p}|{d}".encode()).hexdigest()[:8], 16)
            / 4294967295.0
            * 2
            - 1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _srp_bucket_expr(planes: list[list[float]]):
    """Bit p of the bucket is set when embedding·plane_p ≥ 0, built as
    one SQL string: one Py4J call, not ~100 per plane."""
    return F.expr(
        " + ".join(
            f"CAST({dot_sql('embedding', vector_sql(hv))} >= 0 AS BIGINT)"
            f" * {1 << p}"
            for p, hv in enumerate(planes)
        )
    )


@register(
    "lsh_ann_topk",
    headline=True,
    oracle="WITH " + _SRP_BUCKET_CTE + """,
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
          FROM e WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.v FROM e
      JOIN buckets b ON e.vec_id = b.vec_id, qb
      WHERE b.bucket = qb.bucket
         OR xor(b.bucket, qb.bucket) IN (1, 2, 4, 8, 16, 32)
    )
    SELECT vec_id, round(score, 6) AS score FROM (
      SELECT c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * q.qn) AS score
      FROM cand c, q
    )
    ORDER BY round(score, 6) DESC, vec_id ASC LIMIT 20
    """,
)
def lsh_ann_topk_q(spark, sf_dir):
    """SRP-LSH approximate top-k, the build-once / probe-many shape: the
    bucketed index is materialized ``partitionBy(bucket)`` on first use
    (the O(n·d) assignment pass, paid at ingest time at scale), and the
    query itself is a partition-pruned read of the probe bucket's Hamming-1
    neighborhood — never a full-relation recompute. Hash-certified since
    round 10: buckets come from the md5-derived hyperplanes the scan-side
    SRP tier already certifies, the Hamming-1 neighborhood is the XOR-in-
    power-of-two predicate DuckDB replays bit-exactly, and the re-rank is
    the proven rounded-score grid — the numpy-seeded kernel
    (operators/similarity.py build_srp_index / lsh_ann_topk_indexed)
    stays as the throughput path with its own recall + scan≡indexed
    equivalence tests.

    ``n_planes=6`` (64 buckets) sizes the index to the fixture corpus
    (~30 rows/bucket): bucket count is a layout parameter that must track
    corpus size — 2^planes ≫ n leaves near-empty partition dirs whose
    write-commit and listing costs dwarf the data, and a Hamming-1 probe
    that sees too few candidates for top-k recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    planes = _md5_planes(_SRP_PLANES, len(qv))
    idx = _ann_index_dir(sf_dir, "srp6md5")
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        emb.select(
            "vec_id", "embedding", _srp_bucket_expr(planes).alias("bucket")
        ).repartition(F.col("bucket")).write.partitionBy("bucket").mode(
            "overwrite"
        ).parquet(idx)
    qbucket = 0
    for p, hv in enumerate(planes):
        acc = 0.0
        for x, y in zip(qv, hv):
            acc += x * y
        if acc >= 0:
            qbucket |= 1 << p
    probe = [qbucket] + [qbucket ^ (1 << p) for p in range(_SRP_PLANES)]
    cand = read_parquet(spark, idx).filter(F.col("bucket").isin(probe))
    return (
        cand.select(
            "vec_id",
            F.round(cosine("embedding", vector_sql(qv)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


# md5-derived IVF coarse quantizer shared with the DuckDB oracle: centroid
# component c(j,d) = md5("ivf|j|d")'s first 8 hex digits mapped to [-1, 1];
# assignment is the integer-grid argmin d2i = round((v·v − 2·v·c + c·c)·1e6)
# AS BIGINT with ties → smallest cell id (the PQ certification recipe), so
# both the cell of every vector and the probe's n_probe nearest cells are
# integer-deterministic on both engines.
_IVF_CELLS = 16


def _ivf_md5_centroids(dim: int) -> list[list[float]]:
    return [
        [
            int(hashlib.md5(f"ivf|{j}|{d}".encode()).hexdigest()[:8], 16)
            / 4294967295.0
            * 2
            - 1
            for d in range(dim)
        ]
        for j in range(_IVF_CELLS)
    ]


def _ivf_oracle(dim: int = 64) -> str:
    cents = _ivf_md5_centroids(dim)
    rows = []
    for j, cv in enumerate(cents):
        cc = 0.0
        for xx in cv:
            cc += xx * xx
        lst = "[" + ", ".join(repr(x) for x in cv) + "]"
        rows.append(f"({j}, {repr(cc)}, {lst})")
    values = ",\n      ".join(rows)
    return f"""
    WITH cb(j, cc, cv) AS (VALUES
      {values}
    ),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    d AS (
      SELECT vec_id, cb.j,
             CAST(round((list_dot_product(v, v)
                         - 2 * list_dot_product(v, cv) + cc)
                        * 1000000.0) AS BIGINT) AS d2i
      FROM e, cb
    ),
    cells AS (
      SELECT vec_id, j AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2i, j) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    qcells AS (SELECT j AS cell FROM d WHERE vec_id = 0
               ORDER BY d2i, j LIMIT 4),
    q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
          FROM e WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.v FROM e
      JOIN cells c ON e.vec_id = c.vec_id
      JOIN qcells ON c.cell = qcells.cell
    )
    SELECT vec_id, round(score, 6) AS score FROM (
      SELECT c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * q.qn) AS score
      FROM cand c, q
    )
    ORDER BY round(score, 6) DESC, vec_id ASC LIMIT 20
    """


def _ivf_cell_expr(cents: list[list[float]]):
    cands = []
    for j, cv in enumerate(cents):
        cc = 0.0
        for xx in cv:
            cc += xx * xx
        d2i = F.round(
            (
                dot("embedding", "embedding")
                - 2 * dot("embedding", vector_sql(cv))
                + F.lit(cc)
            )
            * 1e6
        ).cast("bigint")
        cands.append(F.struct(d2i.alias("d"), F.lit(j).alias("j")))
    return F.least(*cands).getField("j")


@register("ivf_ann_topk", headline=True, oracle=_ivf_oracle())
def ivf_ann_topk(spark, sf_dir):
    """IVF-bucketed ANN, build-once / probe-many: distributed cell
    assignment written ``partitionBy(cell)`` on first use; the query is a
    partition-pruned read of the n_probe=4 nearest cells with no
    assignment expression in the probe plan. Hash-certified since round
    10 via md5-derived centroids on the PQ integer-distance grid (both
    every vector's argmin cell and the probe's 4 nearest cells are exact
    BIGINT comparisons in both engines); the k-means-trained quantizer
    (operators/similarity.py ivf_centroids / build_ivf_index /
    ivf_topk_indexed) stays as the throughput path with its own recall
    tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cents = _ivf_md5_centroids(len(qv))
    idx = _ann_index_dir(sf_dir, "ivf16md5")
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        emb.select(
            "vec_id", "embedding", _ivf_cell_expr(cents).alias("cell")
        ).repartition(F.col("cell")).write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(idx)
    # probe cells: the same integer grid the oracle's qcells CTE evaluates
    qvv = 0.0
    for xx in qv:
        qvv += xx * xx
    grid = []
    for j, cv in enumerate(cents):
        qc = 0.0
        cc = 0.0
        for a, b in zip(qv, cv):
            qc += a * b
        for xx in cv:
            cc += xx * xx
        grid.append((int(math.floor((qvv - 2 * qc + cc) * 1e6 + 0.5)), j))
    probe = [j for _, j in sorted(grid)[:4]]
    cand = read_parquet(spark, idx).filter(F.col("cell").isin(probe))
    return (
        cand.select(
            "vec_id",
            F.round(cosine("embedding", vector_sql(qv)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


@register(
    "embedding_neighbors_blocked",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    s AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
    ),
    r AS (
      SELECT id_a, id_b, score,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY score DESC, id_b ASC) AS rank
      FROM s
    )
    SELECT id_a, id_b, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
    """,
)
def embedding_neighbors_blocked(spark, sf_dir):
    """All-pairs top-3 neighbors within ``label`` blocks (embedding-cosine
    near-dup). Blocked equi-join, not a cross join; ties at the round-6
    score grid break deterministically by neighbor id on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pairwise_cosine_topk(emb, k=3, block_col="label")


@register(
    "semantic_dedup_survivors",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35
    ),
    sym AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
    reach(id, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
    )
    SELECT id AS vec_id,
           min(r)                AS cluster,
           CAST(id = min(r) AS BOOLEAN) AS keep
    FROM reach GROUP BY id
    """,
)
def semantic_dedup_survivors(spark, sf_dir):
    """SemDeDup end-to-end (Abbas et al. 2023): blocked pairwise cosine ≥
    threshold → connected components → one deterministic survivor (min
    vec_id) per semantic cluster. Blocks are the fixture's ``label``
    column standing in for the k-means cluster assignment (the IVF
    quantizer provides it in production, operators/similarity.py); the
    threshold sits where the fixture's random-ish embeddings actually
    have pair mass — the certified object is the pipeline semantics, not
    the constant. The oracle replays pairs + reachability as a recursive
    CTE, feasible only at oracle scale; the engine side is the log-round
    hash-min CC (operators/graph.py)."""
    from polygon_algotrading_env_spark.operators.graph import connected_components
    from polygon_algotrading_env_spark.operators.similarity import (
        semantic_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dup_pairs(emb, threshold=0.35, block_col="label")
    labels = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        vertices=emb.select(F.col("vec_id").alias("id")),
    )
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("keep"),
    )


# --- per-label centroid outliers (embedding-space data auditing) ----------
@register(
    "embedding_outliers_per_label",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE)     AS val
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos, avg(val) AS c FROM dims GROUP BY 1, 2
    ),
    percvec AS (
      SELECT d.vec_id, d.label,
             sum(d.val * c.c)        AS dp,
             sqrt(sum(d.val * d.val)) AS nv
      FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
      GROUP BY 1, 2
    ),
    nc AS (SELECT label, sqrt(sum(c * c)) AS nc FROM cent GROUP BY 1),
    scored AS (
      SELECT p.vec_id, p.label,
             round(p.dp / (p.nv * n.nc), 6) AS cos_to_centroid
      FROM percvec p JOIN nc n ON p.label = n.label
    )
    SELECT label, CAST(rnk AS INT) AS rnk, vec_id, cos_to_centroid
    FROM (
      SELECT label, vec_id, cos_to_centroid,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos_to_centroid, vec_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def embedding_outliers_per_label(spark, sf_dir):
    """Embedding-space label auditing: the 5 vectors per label FARTHEST
    from their label centroid by cosine — the mislabeled-example /
    embedding-drift screen run before clustering-dependent curation
    (SemDeDup, IVF training) trusts the labels. Centroids are label×dim
    rows (vocab-sized, broadcast back); per-vector reductions shuffle the
    exploded dims once on vec_id. Ranking orders by the ROUNDED cosine
    with vec_id tiebreak so the top-5 cut cannot disagree across engines
    on last-ulp centroid differences."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "fval"),
    ).select("vec_id", "label", "pos", F.col("fval").cast("double").alias("val"))
    cent = dims.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    percvec = (
        dims.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dp"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nv"),
        )
    )
    nc = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc")
    )
    scored = percvec.join(F.broadcast(nc), "label").select(
        "vec_id",
        "label",
        F.round(F.col("dp") / (F.col("nv") * F.col("nc")), 6).alias(
            "cos_to_centroid"
        ),
    )
    w = Window.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("label", F.col("rnk").cast("int").alias("rnk"), "vec_id",
                "cos_to_centroid")
    )


# --- cross-engine-reproducible SRP-LSH (oracle-certified ANN tier) --------
#
# The indexed ANN queries above are rows-only because their bucket hash
# (xxhash64) and trained quantizers have no DuckDB equivalent. This pair
# closes that gap: hyperplane component h(p,d) derives from
# md5("srp|p|d") — computable bit-identically in Python (driver-side
# constants for the Spark plan) and in DuckDB SQL — and both engines take
# sequential left-to-right dot products, so the bucket of every vector and
# hence the probe's candidate set and its exact re-rank hash-match. That
# certifies BOTH halves of the LSH design: candidate generation
# (srp_bucket_assignments) and the exact re-rank over the probe bucket
# (srp_topk_reranked).

@register(
    "srp_bucket_assignments",
    oracle="WITH " + _SRP_BUCKET_CTE + """
    SELECT vec_id, bucket FROM buckets
    """,
)
def srp_bucket_assignments(spark, sf_dir):
    """Every vector's SRP-LSH bucket under the md5-derived hyperplanes —
    the ingest-time assignment pass of the build-once/probe-many index,
    hash-certified against DuckDB recomputing the same planes in SQL.
    One scan, no shuffle: the six dot products are constant-array
    ``aggregate`` folds inside whole-stage codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir))
    return emb.select(
        "vec_id", _srp_bucket_expr(_md5_planes(_SRP_PLANES, dim)).alias("bucket")
    )


@register(
    "srp_topk_reranked",
    headline=True,
    oracle="WITH " + _SRP_BUCKET_CTE + """,
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
          FROM e WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.v FROM e
      JOIN buckets b ON e.vec_id = b.vec_id
      JOIN qb ON b.bucket = qb.bucket
    )
    SELECT vec_id, round(score, 6) AS score FROM (
      SELECT c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * q.qn) AS score
      FROM cand c, q
    )
    ORDER BY round(score, 6) DESC, vec_id ASC LIMIT 10
    """,
)
def srp_topk_reranked(spark, sf_dir):
    """SRP-LSH probe + exact cosine re-rank, end-to-end hash-certified:
    candidates are the probe vector's bucket (md5-plane bucketing above),
    scored exactly and cut to top-10 on the rounded-score grid with vec_id
    tiebreak. This is the same probe-then-rerank shape as the rows-only
    indexed ANN queries — certified here because the bucket function is
    cross-engine reproducible. Single scan + TakeOrderedAndProject; the
    probe bucket is a 1-row broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    planes = _md5_planes(_SRP_PLANES, len(qv))
    qbucket = 0
    for p, hv in enumerate(planes):
        acc = 0.0
        for x, y in zip(qv, hv):
            acc += x * y
        if acc >= 0:
            qbucket |= 1 << p
    cand = emb.where(_srp_bucket_expr(planes) == qbucket)
    return (
        cand.select(
            "vec_id",
            F.round(cosine("embedding", vector_sql(qv)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --- certified product quantization (md5 codebook, integer ADC grid) ------
# Like the SRP tier above, the PQ recipe becomes cross-engine certifiable
# by deriving the codebook from md5 instead of a numpy-trained sample:
# codeword component c(j,k,d) = md5("pq|j|k|d")'s first 8 hex digits
# mapped to [-1, 1]. Every distance lands on an EXACT integer grid —
# d2i = round((sv·sv − 2·sv·c + c·c)·1e6) as BIGINT — so codeword argmin
# (ties → smallest k), the query's ADC lookup table (the probe is vec 0,
# so its own (j,k) distance rows ARE the table), the BIGINT ADC sums, and
# the top-100 candidate cut (adc, vec_id) are all integer-deterministic
# on both engines; only the final exact-cosine re-rank reuses the proven
# rounded-score grid.
_PQ_M, _PQ_K = 8, 16


def _pq_books(dim: int) -> list[list[list[float]]]:
    """md5-derived codebooks shared with the DuckDB oracle (injected there
    as literal VALUES via repr — exact double round-trip)."""
    sub = dim // _PQ_M
    return [
        [
            [
                int(
                    hashlib.md5(f"pq|{j}|{k}|{d}".encode()).hexdigest()[:8],
                    16,
                )
                / 4294967295.0
                * 2
                - 1
                for d in range(sub)
            ]
            for k in range(_PQ_K)
        ]
        for j in range(_PQ_M)
    ]


def _pq_oracle(dim: int = 64) -> str:
    sub = dim // _PQ_M
    books = _pq_books(dim)
    rows = []
    for j, book in enumerate(books):
        for k, cv in enumerate(book):
            cc = 0.0
            for xx in cv:
                cc += xx * xx
            lst = "[" + ", ".join(repr(x) for x in cv) + "]"
            rows.append(f"({j}, {k}, {repr(cc)}, {lst})")
    values = ",\n      ".join(rows)
    return f"""
    WITH cb(j, k, cc, cv) AS (VALUES
      {values}
    ),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    sub AS (
      SELECT vec_id, j.j AS j,
             list_slice(v, j.j * {sub} + 1, j.j * {sub} + {sub}) AS sv
      FROM e, (SELECT unnest(range({_PQ_M})) AS j) j
    ),
    d AS (
      SELECT vec_id, s.j, cb.k,
             CAST(round((list_dot_product(sv, sv)
                         - 2 * list_dot_product(sv, cv) + cc)
                        * 1000000.0) AS BIGINT) AS d2i
      FROM sub s JOIN cb ON cb.j = s.j
    ),
    codes AS (
      SELECT vec_id, j, k FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d2i, k) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    lutq AS (SELECT j, k, d2i AS l FROM d WHERE vec_id = 0),
    adc AS (
      SELECT c.vec_id, CAST(sum(l.l) AS BIGINT) AS adc
      FROM codes c JOIN lutq l ON l.j = c.j AND l.k = c.k
      GROUP BY 1
    ),
    cand AS (
      SELECT e.vec_id, e.v FROM e JOIN adc USING (vec_id)
      ORDER BY adc.adc ASC, e.vec_id ASC LIMIT 100
    ),
    q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
          FROM e WHERE vec_id = 0)
    SELECT vec_id, round(score, 6) AS score FROM (
      SELECT c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * q.qn) AS score
      FROM cand c, q
    )
    ORDER BY round(score, 6) DESC, vec_id ASC LIMIT 20
    """


@register("pq_ann_topk", oracle=_pq_oracle())
def pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN, hash-certified end to end: md5-derived
    codebooks (the SRP/IVF certification recipe), scan-side encode as an
    integer-grid argmin per subspace (ties → smallest codeword id), ADC
    candidate generation as exact BIGINT sums of the probe's own
    distance table, top-100 cut on (adc, vec_id), exact cosine re-rank
    to top-20 on the rounded-score grid. Everything is JVM codegen —
    constant-array folds, a 16-way struct `least` per subspace, one
    TakeOrderedAndProject — no UDF, no index cache. At 100 TB the encode
    pass would be materialized once as a codes silver table (that
    build-once path, with numpy-trained codebooks, is
    operators/similarity.py pq_train/pq_encode/pq_topk_reranked, kept
    recall-tested in tests/test_similarity.py); this certified plan keeps
    encode scan-side so the whole recipe is one deterministic query."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    dim = len(qv)
    sub_d = dim // _PQ_M
    books = _pq_books(dim)

    # probe-side ADC lookup table, computed once in Python with the same
    # double sequence the oracle's SQL evaluates for vec 0
    lut: list[list[int]] = []
    for j in range(_PQ_M):
        qs = qv[j * sub_d : (j + 1) * sub_d]
        qvv = 0.0
        for xx in qs:
            qvv += xx * xx
        row = []
        for k in range(_PQ_K):
            cv = books[j][k]
            qc = 0.0
            cc = 0.0
            for a, b in zip(qs, cv):
                qc += a * b
            for xx in cv:
                cc += xx * xx
            row.append(int(math.floor((qvv - 2 * qc + cc) * 1e6 + 0.5)))
        lut.append(row)

    adc = F.lit(0).cast("bigint")
    for j in range(_PQ_M):
        sv = f"slice(embedding, {j * sub_d + 1}, {sub_d})"
        svv = dot(sv, sv)
        cands = []
        for k in range(_PQ_K):
            cv = books[j][k]
            cc = 0.0
            for xx in cv:
                cc += xx * xx
            d2i = F.round(
                (svv - 2 * dot(sv, vector_sql(cv)) + F.lit(cc))
                * 1e6
            ).cast("bigint")
            cands.append(F.struct(d2i.alias("d"), F.lit(k).alias("k")))
        code = F.least(*cands).getField("k")
        lut_row = F.expr("array(" + ", ".join(f"{v}L" for v in lut[j]) + ")")
        adc = adc + F.element_at(lut_row, code + 1)
    cand = (
        emb.select("vec_id", "embedding", adc.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col("vec_id").asc())
        .limit(100)
    )
    return (
        cand.select(
            "vec_id",
            F.round(cosine("embedding", vector_sql(qv)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


# --- semantic clustering: fixed-round quantized k-means --------------------
def _kmeans_oracle(k: int = 8, n_rounds: int = 3, scale: int = 1 << 20) -> str:
    dist = (
        "CAST(list_dot_product({q}.qv, {q}.qv)"
        " - 2 * list_dot_product({q}.qv, {c}.cv)"
        " + list_dot_product({c}.cv, {c}.cv) AS BIGINT)"
    )
    parts = []
    for r in range(1, n_rounds + 1):
        d = dist.format(q="q", c="c")
        parts.append(f"""
    asg{r} AS MATERIALIZED (
      SELECT vec_id, qv, cid, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM (
          SELECT q.vec_id, q.qv, c.cid, {d} AS dist
          FROM q CROSS JOIN c{r - 1} c
        )
      ) WHERE rn = 1
    ),
    c{r} AS MATERIALIZED (
      SELECT c{r - 1}.cid, COALESCE(n.cv, c{r - 1}.cv) AS cv
      FROM c{r - 1} LEFT JOIN (
        SELECT cid, list(d ORDER BY pos) AS cv FROM (
          SELECT cid, pos, sum(x) // count(*) AS d
          FROM (
            SELECT cid, unnest(qv) AS x,
                   generate_subscripts(qv, 1) AS pos
            FROM asg{r}
          )
          GROUP BY cid, pos
        ) GROUP BY cid
      ) n ON n.cid = c{r - 1}.cid
    )""")
    d_final = dist.format(q="q", c="c")
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
             qv AS cv
      FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {k}
    ),{",".join(parts)},
    asgF AS (
      SELECT vec_id, cid, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM (
          SELECT q.vec_id, q.qv, c.cid, {d_final} AS dist
          FROM q CROSS JOIN c{n_rounds} c
        )
      ) WHERE rn = 1
    )
    SELECT a.cid AS cluster_id,
           count(*) AS n_members,
           CAST(sum(a.dist) AS BIGINT) AS inertia,
           min(a.vec_id) AS min_member,
           CAST(min(list_sum(c.cv)) AS BIGINT) AS centroid_sum
    FROM asgF a JOIN c{n_rounds} c ON c.cid = a.cid
    GROUP BY a.cid
    """


@register("kmeans_clusters_embeddings", headline=True, oracle=_kmeans_oracle())
def kmeans_clusters_embeddings(spark, sf_dir):
    """Semantic clustering of the embedding corpus: fixed-round QUANTIZED
    Lloyd k-means (k=8, 3 rounds, floor(x * 2^20) integer space — see
    operators/clustering.py for why the quantized twin is exactly
    certifiable while a float Lloyd is not), md5-ordered deterministic
    seeding, truncating-division centroid updates, empty clusters keep
    their previous centroid. Output is the per-cluster census — size,
    exact integer inertia under the final centroids, smallest member id,
    centroid component sum — replayed in DuckDB as chained MATERIALIZED
    CTEs (the LPA recipe, here with the k x dim centroid table flowing
    through the CTE chain instead of labels). Scale: per round one
    corpus scan with a constant-array codegen assignment expression plus
    one (cluster, dim)-keyed aggregate that map-side-combines to k x dim
    rows per partition; driver state is the KB-sized centroid table (the
    PQ-codebook precedent)."""
    from polygon_algotrading_env_spark.operators.clustering import (
        kmeans_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    final, cents = kmeans_quantized(emb, k=8, n_rounds=3)
    sums = {i: sum(cv) for i, cv in enumerate(cents)}
    centroid_sum = F.lit(None).cast("long")
    for i, s in sums.items():
        centroid_sum = (
            F.when(F.col("cid") == i, F.lit(int(s)))
            .otherwise(centroid_sum)
        )
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("inertia"),
            F.min("vec_id").alias("min_member"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "inertia",
            "min_member",
            centroid_sum.cast("long").alias("centroid_sum"),
        )
    )


# --- exact Gram matrix of the quantized embedding corpus -------------------
@register(
    "embedding_gram_matrix",
    oracle="""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
      FROM embeddings
    ),
    u AS MATERIALIZED (
      SELECT vec_id, unnest(qv) AS x,
             generate_subscripts(qv, 1) - 1 AS i
      FROM q
    )
    SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
           CAST(sum(a.x * b.x) AS BIGINT) AS g
    FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def embedding_gram_matrix(spark, sf_dir):
    """Exact Gram matrix X'X of the quantized embedding corpus (upper
    triangle, dim x dim = 2,080 cells) — the one-pass sufficient
    statistic behind whitening, PCA, ridge regression, and linear-probe
    fits over an embedded corpus. Quantization (floor(x * 2^20), the
    k-means twin's grid) makes every cell an EXACT BIGINT on both
    engines: products <= ~2^42 and corpus sums stay far under 2^63 at
    fixture scale (a ~10^7-row corpus approaches the boundary — at that
    scale production emits doubles, documented here). Plan: one
    posexplode + a vec_id equi-self-join fanned to dim²/2 products, then
    a (i, j)-keyed aggregate that map-side-combines each partition down
    to 2,080 cells before the only shuffle — the standard distributed
    Gram shape; output size is dim²/2 regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    u = q.select("vec_id", F.posexplode("qv").alias("i", "x"))
    a = u.select("vec_id", F.col("i").alias("i"), F.col("x").alias("xa"))
    b = u.select("vec_id", F.col("i").alias("j"), F.col("x").alias("xb"))
    return (
        a.join(b, "vec_id")
        .where(F.col("i") <= F.col("j"))
        .groupBy(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
        )
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("g"))
    )
