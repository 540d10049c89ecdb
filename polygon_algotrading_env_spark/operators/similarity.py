"""Embedding similarity search (extension surface, BASELINE.json north star).

Two tiers, both DataFrame plans:

- ``cosine_topk``      — brute-force scan: broadcast the query vector(s) as
  literals, score with JVM-side ``zip_with``/``aggregate`` expressions, and
  take top-k via ``orderBy(...).limit(k)`` (planned as
  TakeOrderedAndProject: per-partition heap + tiny driver merge — no full
  sort, no full shuffle). Exact; O(n·d) scan, the right baseline even at
  scale for one-off queries.

- ``lsh_ann_topk``     — random-hyperplane (signed random projection) LSH:
  bucket vectors by the sign pattern of ``n_planes`` fixed pseudo-random
  hyperplanes, probe only the query's bucket (optionally multi-probe with
  Hamming-neighbor buckets). The scan becomes an equi-join on bucket key;
  recall trades off with n_planes. Hyperplane components are generated
  deterministically from xxhash64(seed, plane, dim) — reproducible across
  runs and engines, no stored model.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from polygon_algotrading_env_spark.catalog import read_parquet
from polygon_algotrading_env_spark.functions.vectors import (
    cosine,
    dot,
    vector_sql,
)


def _query_lit(query_vec: list[float]) -> Column:
    """The constant ``array<double>`` of ``query_vec`` as one SQL
    expression (:func:`vector_sql`): one Py4J round trip, where
    ``F.array`` over ``F.lit`` calls takes three per element. The
    optimizer folds it to one literal."""
    return F.expr(vector_sql(query_vec))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``."""
    score = cosine(F.col(vec_col), _query_lit(query_vec))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    scored = embeddings.select(F.col(id_col), score.alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _hyperplane(plane: int, dim: int, seed: int) -> Column:
    """Deterministic pseudo-random hyperplane as an array literal expression.

    Component j = xxhash64(seed, plane, j) mapped to [-1, 1). Uniform signs
    are all LSH needs; gaussian components are unnecessary.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.xxhash64(F.lit(seed), F.lit(plane), j).cast("double")
            / F.lit(float(2**63))
        ),
    )


def srp_bucket(
    vec: Column | str, n_planes: int = 12, seed: int = 42, dim: int | None = None
) -> Column:
    """Signed-random-projection bucket id (bigint) of a vector column."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    d = F.size(vec) if dim is None else F.lit(dim)
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    F.transform(vec, lambda x: x.cast("double")),
                    F.transform(
                        F.sequence(F.lit(0), d - 1),
                        lambda j: F.xxhash64(F.lit(seed), p, j).cast("double")
                        / F.lit(float(2**63)),
                    ),
                    lambda x, h: x * h,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    # Fold MSB-first into an integer bucket id (no shift-by-column in Spark).
    return F.aggregate(
        bits, F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b
    )


def hyperplane_matrix(spark, n_planes: int, dim: int, seed: int) -> np.ndarray:
    """The (n_planes × dim) hyperplane matrix, evaluated ONCE with the same
    Spark expression that buckets query vectors (:func:`_hyperplane`) so
    the hash definition stays single-sourced — no stored model, no drift
    between the bulk-assignment path and the per-query path."""
    row = spark.range(1).select(
        *[_hyperplane(p, dim, seed).alias(f"h{p}") for p in range(n_planes)]
    ).collect()[0]
    return np.array([list(row[f"h{p}"]) for p in range(n_planes)], dtype=np.float64)


def add_srp_buckets(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    out: str = "bucket",
    planes=None,
) -> DataFrame:
    """Materialize bucket ids (do this once, write partitioned by bucket —
    then every ANN probe is a partition-pruned scan).

    Bulk assignment runs as an Arrow-batched matmul (signs of V·Hᵀ): the
    equivalent pure-expression form (:func:`srp_bucket`) is an interpreted
    higher-order-function chain — O(planes·d) interpreted lambda calls per
    row, measured ~20× slower on the fixture — fine for the one query
    vector, wrong for the corpus pass. Equivalence of the two paths is
    pinned by a test."""
    spark = embeddings.sparkSession
    first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:  # empty relation: nothing to bucket
        return embeddings.withColumn(out, F.lit(None).cast("bigint"))
    if planes is not None:
        # caller-supplied hyperplanes (e.g. the md5-derived cross-engine-
        # reproducible set behind the oracle-certified SRP tier)
        hmat = np.asarray(planes, dtype=np.float64)
        n_planes = hmat.shape[0]
    else:
        hmat = hyperplane_matrix(spark, n_planes, int(first["d"]), seed)
    weights = 2 ** np.arange(n_planes - 1, -1, -1, dtype=np.int64)

    @pandas_udf("bigint")
    def _bucket(vecs: pd.Series) -> pd.Series:
        mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in vecs.to_numpy()]
        )
        bits = (mat @ hmat.T) >= 0
        return pd.Series((bits.astype(np.int64) * weights).sum(axis=1))

    return embeddings.withColumn(out, _bucket(F.col(vec_col)))


def srp_probe_buckets(
    spark,
    query_vec: list[float],
    n_planes: int = 12,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> list[int]:
    """The query's SRP bucket plus its Hamming-neighborhood — the probe set
    shared by the scan-time and index-probe ANN paths. The query bucket is
    evaluated with the same Spark expression on one row, keeping the hash
    definition single-sourced."""
    qdf = spark.range(1).select(
        srp_bucket(
            _query_lit(query_vec), n_planes, seed, dim=len(query_vec)
        ).alias("b")
    )
    qbucket = qdf.collect()[0]["b"]
    probe = {qbucket}
    if multiprobe_hamming >= 1:
        for i in range(n_planes):
            probe.add(qbucket ^ (1 << i))
    if multiprobe_hamming >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probe.add(qbucket ^ (1 << i) ^ (1 << j))
    return sorted(int(b) for b in probe)


def _score_topk(
    candidates: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    score_decimals: int | None,
) -> DataFrame:
    score = cosine(F.col(vec_col), _query_lit(query_vec))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        candidates.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    score_decimals: int | None = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors whose SRP bucket is within
    ``multiprobe_hamming`` bit flips of the query's bucket.

    Scan-time variant: assigns buckets to every row per query (one O(n·d)
    expression pass) — fine for one-off queries on an unindexed relation.
    A query *service* must use :func:`build_srp_index` +
    :func:`lsh_ann_topk_indexed`, where the probe is a partition-pruned
    read instead."""
    probe = srp_probe_buckets(
        embeddings.sparkSession, query_vec, n_planes, seed, multiprobe_hamming
    )
    bucketed = add_srp_buckets(embeddings, vec_col, n_planes, seed)
    candidates = bucketed.filter(F.col("bucket").isin(probe))
    return _score_topk(candidates, query_vec, k, id_col, vec_col, score_decimals)


def build_srp_index(
    embeddings: DataFrame,
    path: str,
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    mode: str = "overwrite",
    quantize: bool = False,
) -> None:
    """Materialize the SRP-LSH index ONCE: bucket every vector and write
    the relation ``partitionBy('bucket')``. Every subsequent probe
    (:func:`lsh_ann_topk_indexed`) is then a partition-pruned scan of
    ~``multiprobe+1`` buckets — at 100 TB the O(n·d) assignment cost is
    paid at ingest, amortized over every query, exactly like the
    reference's server-side index the ANN tier replaces.

    ``quantize=True`` stores vectors as int8 codes + per-vector scale
    (symmetric SQ8) instead of float arrays — ~4× less index to scan,
    which at 100 TB is THE probe cost; cosine ranking on dequantized
    vectors is near-identical (test-pinned). The probe side dequantizes
    in-expression (:func:`lsh_ann_topk_indexed` autodetects the layout).

    The bucketed relation is shuffled on ``bucket`` before the write:
    without it every input task writes one file per bucket it happens to
    see (tasks × buckets small files — a listing-time disaster for every
    future probe); with it each bucket is a handful of well-sized files."""
    indexed = add_srp_buckets(embeddings, vec_col, n_planes, seed)
    if quantize:
        from polygon_algotrading_env_spark.functions.vectors import quantize_int8

        indexed = indexed.withColumn(vec_col, quantize_int8(F.col(vec_col)))
    indexed.repartition(F.col("bucket")).write.partitionBy("bucket").mode(
        mode
    ).parquet(path)


def lsh_ann_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    score_decimals: int | None = 6,
) -> DataFrame:
    """Probe a :func:`build_srp_index` table: partition-pruned read of the
    query's Hamming neighborhood (PartitionFilters on ``bucket`` — plan
    asserted in tests), then score only those candidates. ``n_planes`` and
    ``seed`` must match the values the index was built with. A quantized
    index (struct codes/scale vector column) is detected from the schema
    and dequantized in-expression before scoring."""
    from pyspark.sql.types import StructType as _St

    probe = srp_probe_buckets(spark, query_vec, n_planes, seed, multiprobe_hamming)
    candidates = read_parquet(spark, index_path).filter(
        F.col("bucket").isin(probe)
    )
    if isinstance(candidates.schema[vec_col].dataType, _St):
        from polygon_algotrading_env_spark.functions.vectors import dequantize_int8

        candidates = candidates.withColumn(vec_col, dequantize_int8(F.col(vec_col)))
    return _score_topk(candidates, query_vec, k, id_col, vec_col, score_decimals)


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 2048,
    iters: int = 5,
    seed: int = 42,
):
    """Train a small IVF coarse quantizer: k-means on a driver-side sample.

    At 100 TB you train the quantizer on a sample anyway (centroid count
    ≪ data); the assignment pass is the distributed part. The sample is a
    seeded uniform ``sample()`` across ALL partitions — never ``limit()``,
    which takes the head of the first partitions and, under any clustered
    ingest ordering, would train the quantizer on one shard of the
    distribution and collapse recall. Returns a (n_centroids × dim) numpy
    array, deterministic for a fixed seed and layout.
    """
    vecs = embeddings.select(vec_col)
    n = vecs.count()
    if n <= sample_rows:
        rows = vecs.collect()
    else:
        # Oversample slightly so the post-sample limit (which trims the
        # handful of excess rows) cannot come up short; 20% excess keeps
        # the residual first-partition bias negligible.
        frac = min(1.0, 1.2 * sample_rows / n)
        rows = vecs.sample(fraction=frac, seed=seed).limit(sample_rows).collect()
    sample = np.array([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    # Spherical k-means (cosine ≙ dot on normalized vectors).
    def _norm(x):
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return x / n

    s = _norm(sample)
    for _ in range(iters):
        c = _norm(cent)
        assign = (s @ c.T).argmax(axis=1)
        for j in range(n_centroids):
            members = s[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return _norm(cent)


def assign_ivf_cells(
    embeddings: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """Distributed IVF assignment: argmax dot against the broadcast
    centroid matrix, as a vectorized Arrow pandas UDF (a k×d matmul per
    batch). Write the result partitioned by ``cell`` and every probe scans
    only its cells."""
    cent = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return pd.Series((mat / norms @ cent.T).argmax(axis=1).astype("int32"))

    return embeddings.withColumn(out, _assign(F.col(vec_col)))


def ivf_probe_cells(centroids, query_vec: list[float], n_probe: int) -> list[int]:
    """The ``n_probe`` IVF cells nearest the query (driver-side: a k×d
    matvec against the tiny centroid matrix)."""
    cent = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    return [int(c) for c in np.argsort(-(cent @ qn))[:n_probe]]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
) -> DataFrame:
    """IVF approximate top-k: score only rows in the ``n_probe`` cells
    nearest the query. Recall rises with n_probe; n_probe = n_centroids
    degenerates to the exact scan.

    Scan-time variant (per-query full assignment pass); a query service
    must use :func:`build_ivf_index` + :func:`ivf_topk_indexed`."""
    probe = ivf_probe_cells(centroids, query_vec, n_probe)
    cells = assign_ivf_cells(embeddings, np.asarray(centroids), vec_col=vec_col)
    cands = cells.filter(F.col("cell").isin(probe))
    return _score_topk(cands, query_vec, k, id_col, vec_col, score_decimals)


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroids,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF index ONCE: distributed cell assignment (Arrow
    matmul UDF), written ``partitionBy('cell')``. Persist the centroid
    matrix alongside (caller's job — it's a tiny numpy array); probes need
    the same centroids to pick cells. Shuffled on ``cell`` before the write
    for the same small-file reason as :func:`build_srp_index`."""
    assign_ivf_cells(embeddings, centroids, vec_col=vec_col).repartition(
        F.col("cell")
    ).write.partitionBy("cell").mode(mode).parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
) -> DataFrame:
    """Probe a :func:`build_ivf_index` table: partition-pruned read of the
    ``n_probe`` nearest cells (PartitionFilters on ``cell``, no assignment
    UDF anywhere in the probe plan — asserted in tests), then score."""
    probe = ivf_probe_cells(centroids, query_vec, n_probe)
    cands = read_parquet(spark, index_path).filter(F.col("cell").isin(probe))
    return _score_topk(cands, query_vec, k, id_col, vec_col, score_decimals)


def pairwise_cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    score_decimals: int | None = 6,
) -> DataFrame:
    """All-pairs top-k neighbors (near-dup by embedding cosine).

    Without ``block_col`` this is a cross join — only for small/medium
    relations. At scale pass a blocking column (e.g. SRP bucket from
    :func:`add_srp_buckets`, or a label/partition key): the join becomes an
    equi-join on the block key.
    """
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    joined = a.join(b, on=(["blk"] if block_col else None), how="inner") if block_col else a.crossJoin(b)
    joined = joined.filter(F.col("id_a") != F.col("id_b"))
    score = cosine(F.col("va"), F.col("vb"))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    scored = joined.select("id_a", "id_b", score.alias("score"))
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id_a", "id_b", "score", "rank")
    )


def semantic_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    score_decimals: int | None = 6,
) -> DataFrame:
    """SemDeDup-style semantic-duplicate candidate pairs: ``(id_a < id_b,
    score)`` for every blocked pair with cosine ≥ ``threshold``.

    ``block_col`` bounds the pair space exactly as in
    :func:`pairwise_cosine_topk` — an SRP bucket (:func:`add_srp_buckets`)
    or cluster/label key turns the quadratic all-pairs into per-block
    equi-joins, which is the published SemDeDup recipe (k-means cluster,
    then in-cluster pairwise). Feed the output to
    ``operators.graph.connected_components`` + ``cluster_survivors`` to
    pick one representative per semantic cluster.
    """
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    joined = (
        a.join(b, "blk", "inner") if block_col else a.crossJoin(b)
    ).filter(F.col("id_a") < F.col("id_b"))
    score = cosine(F.col("va"), F.col("vb"))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        joined.select("id_a", "id_b", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


# --- product quantization (PQ): the memory-bound ANN tier ------------------
# At 100 TB of embeddings the bottleneck flips from compute to MEMORY: a
# 768-dim float32 vector is 3 KB, a PQ code is m bytes (~8-64). PQ splits
# each vector into m subvectors, k-means-quantizes each subspace to 2^bits
# codewords, and answers queries by Asymmetric Distance Computation: one
# (m × 2^bits) lookup table per query, scores are m table lookups per
# code — the codes relation is the only thing scanned, ~100-400x smaller
# than the raw vectors.

def pq_train(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    codebook_size: int = 256,
    sample_rows: int = 4096,
    iters: int = 8,
    seed: int = 7,
) -> np.ndarray:
    """Train PQ codebooks: per-subspace L2 k-means on a driver-side seeded
    sample (codebook size ≪ data, same sampling discipline as
    ivf_centroids — cross-partition sample(), never limit()). Vectors are
    L2-normalized first so ADC L2 ranking ≡ cosine ranking. Returns a
    (m, codebook_size, dim//m) numpy array, deterministic for a fixed
    seed and layout."""
    vecs = embeddings.select(vec_col)
    n = vecs.count()
    if n <= sample_rows:
        rows = vecs.collect()
    else:
        frac = min(1.0, 1.2 * sample_rows / n)
        rows = vecs.sample(fraction=frac, seed=seed).limit(sample_rows).collect()
    sample = np.array([list(r[0]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sample = sample / norms
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ksub = min(codebook_size, len(sample))
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub))
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                members = sub[assign == j]
                if len(members):
                    cent[j] = members.mean(axis=0)
        books[s] = cent
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-codeword ids — the build pass
    that writes the codes silver table. Arrow-batched numpy (one matrix
    op per subspace per batch); codes are (id, array<int> of length m).
    Deterministic for fixed codebooks."""
    from pyspark.sql.types import ArrayType

    m, ksub, dsub = codebooks.shape
    books = codebooks  # captured; shipped once per executor in the closure

    @pandas_udf(ArrayType(IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        out = []
        x = np.array([list(v) for v in vecs], dtype=np.float64)
        if len(x) == 0:
            return pd.Series(out)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        x = x / norms
        codes = np.empty((len(x), m), dtype=np.int32)
        for s in range(m):
            sub = x[:, s * dsub : (s + 1) * dsub]
            d2 = ((sub[:, None, :] - books[None, s]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1)
        out = [row.tolist() for row in codes]
        return pd.Series(out)

    return embeddings.select(
        F.col(id_col), _enc(F.col(vec_col)).alias("pq_code")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the codes relation: the (m × ksub) distance table is
    computed ONCE driver-side from the query and shipped in the UDF
    closure; each code row costs m integer lookups + a sum. The raw
    vector relation is never touched — this is the whole point of PQ.
    Returns (id, approx_dist) ascending (smaller = closer; exact ranks
    recoverable by re-scoring the top candidates against raw vectors)."""
    from pyspark.sql.types import DoubleType

    m, ksub, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    table = np.empty((m, ksub))
    for s in range(m):
        table[s] = ((codebooks[s] - q[s * dsub : (s + 1) * dsub]) ** 2).sum(
            axis=1
        )

    @pandas_udf(DoubleType())
    def _adc(code_col: pd.Series) -> pd.Series:
        if len(code_col) == 0:
            return pd.Series([], dtype="float64")
        c = np.array([list(x) for x in code_col], dtype=np.int64)
        d = table[np.arange(m)[None, :], c].sum(axis=1)
        return pd.Series(d)

    return (
        codes.select(F.col(id_col), _adc(F.col("pq_code")).alias("approx_dist"))
        .orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_topk_reranked(
    codes: DataFrame,
    embeddings: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int | None = 6,
) -> DataFrame:
    """The standard two-stage PQ query: ADC over the codes relation
    retrieves ``n_candidates`` (cheap, memory-resident), then ONLY those
    candidates' raw vectors are fetched (broadcast semi-join against the
    id list) and re-scored exactly. Quantization error decides candidate
    membership, never final ranks — the accepted production shape,
    because within-cell ADC ranks are where PQ loses precision."""
    cand = pq_topk(
        codes, codebooks, query_vec, k=n_candidates, id_col=id_col
    ).select(id_col)
    narrowed = embeddings.join(F.broadcast(cand), id_col, "left_semi")
    return _score_topk(
        narrowed, query_vec, k, id_col, vec_col, score_decimals
    )
