from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, DoubleType

from polygon_algotrading_env_spark.catalog import load_table
from polygon_algotrading_env_spark.functions.vectors import (
    cosine,
    dequantize_int8,
    quantize_int8,
)


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    q = emb.select(
        "vec_id",
        "embedding",
        quantize_int8("embedding").alias("q"),
    ).select(
        "vec_id",
        "embedding",
        F.col("q.scale").alias("scale"),
        dequantize_int8("q").alias("back"),
    )
    rows = q.select(
        "scale",
        F.aggregate(
            F.zip_with("embedding", "back", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
    ).collect()
    # Symmetric rounding: per-element error <= scale/2.
    assert all(r["max_err"] <= r["scale"] / 2 + 1e-12 for r in rows)


def test_quantize_zero_vector_and_codes_range(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, -2.0])], "id int, v array<double>"
    )
    out = df.select(
        "id", quantize_int8("v").alias("q")
    ).select("id", "q.codes", "q.scale", dequantize_int8("q").alias("back"))
    rows = {r["id"]: r for r in out.collect()}
    assert list(rows[1]["codes"]) == [0, 0] and rows[1]["scale"] == 0.0
    assert rows[1]["back"] == [0.0, 0.0]
    assert max(abs(c) for c in rows[2]["codes"]) == 127  # max element pins 127
    assert abs(rows[2]["back"][1] - (-2.0)) < 1e-12


def test_quantized_cosine_ranking_preserved(spark, sf_dir):
    """SQ8's contract: cosine ordering is nearly unchanged — top-5 by
    dequantized cosine matches exact top-5 for a probe vector."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    qv = list(
        emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    )
    lit = F.array(*[F.lit(float(x)) for x in qv])
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", cosine("embedding", lit).alias("s"))
        .orderBy(F.desc("s"), "vec_id").limit(5).collect()
    ]
    approx = [
        r["vec_id"]
        for r in emb.select(
            "vec_id", quantize_int8("embedding").alias("q")
        )
        .select("vec_id", cosine(dequantize_int8("q"), lit).alias("s"))
        .orderBy(F.desc("s"), "vec_id").limit(5).collect()
    ]
    assert len(set(exact) & set(approx)) >= 4


def test_query_lit_is_bit_exact_and_folds_to_one_literal(spark):
    """A constant vector built as one SQL expression reads back with the
    same bits, and the optimizer folds it to a single Literal."""
    import struct
    import sys

    from polygon_algotrading_env_spark.operators.similarity import _query_lit

    vals = [
        0.1, -0.1, 1e-05, 1e16, 5e-324, -0.0, 2.5e-310,
        sys.float_info.max, -sys.float_info.max, 1 / 3, 7, 0.0,
    ]
    vals += [int(hashlib.md5(f"srp|0|{d}".encode()).hexdigest()[:8], 16)
             / 4294967295.0 * 2 - 1 for d in range(64)]
    df = spark.range(1).select(_query_lit(vals).alias("v"))
    assert df.schema["v"].dataType == ArrayType(DoubleType(), False)
    got = df.collect()[0]["v"]
    bits = [struct.pack(">d", float(x)) for x in vals]
    assert [struct.pack(">d", x) for x in got] == bits
    proj = df._jdf.queryExecution().optimizedPlan().projectList()
    assert proj.head().child().getClass().getSimpleName() == "Literal"
    special = spark.range(1).select(
        _query_lit([float("inf"), float("-inf"), float("nan")]).alias("v")
    ).collect()[0]["v"]
    assert special[:2] == [float("inf"), float("-inf")]
    assert special[2] != special[2]  # NaN


def _ref_dot(a, b):
    """Python left-to-right Σ aᵢ·bᵢ in double, NULL-propagating, with the
    shorter side padded by NULLs."""
    if a is None or b is None:
        return None
    acc = 0.0
    for i in range(max(len(a), len(b))):
        x = a[i] if i < len(a) else None
        y = b[i] if i < len(b) else None
        if x is None or y is None:
            return None
        acc += float(x) * float(y)
    return acc


def test_dot_and_cosine_match_left_to_right_reference(spark):
    import math

    from polygon_algotrading_env_spark.functions.vectors import dot

    rows = [
        (1, [0.1, -0.7, 3.3, 1e-3], [2.5, 0.3, -1.1, 7.0]),
        (2, [1.0, 2.0], [3.0, 4.0]),
        (3, None, [1.0]),
        (4, [1.0, None, 2.0], [1.0, 1.0, 1.0]),
        (5, [1.0, 2.0, 3.0], [1.0, 2.0]),
        (6, [0.0, 0.0], [1.0, 2.0]),
        (7, [], []),
    ]
    df = spark.createDataFrame(rows, "id int, a array<float>, b array<float>")
    out = df.select(
        "id", "a", "b",
        dot("a", "b").alias("dot"),
        cosine("a", "b").alias("cos"),
    ).orderBy("id").collect()
    assert len(out) == len(rows)
    for r in out:
        a, b = r["a"], r["b"]  # float32 values, exact as Python floats
        assert r["dot"] == _ref_dot(a, b), r["id"]
        ab, aa, bb = _ref_dot(a, b), _ref_dot(a, a), _ref_dot(b, b)
        if ab is None or aa is None or bb is None:
            ref_cos = None
        else:
            den = math.sqrt(aa) * math.sqrt(bb)
            ref_cos = None if den == 0 else ab / den
        assert r["cos"] == ref_cos, r["id"]


def test_quantize_int8_matches_per_element_scale_reference(spark, sf_dir):
    """Binding the scale once per vector gives the codes and scale of the
    expression that recomputed it per element, on the fixture embeddings,
    a zero vector, a NULL element and a NULL array."""

    def reference(a):
        v = F.transform(F.col(a), lambda x: x.cast("double"))
        mx = F.aggregate(
            F.transform(v, lambda x: F.abs(x)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )
        scale_ = mx / F.lit(127.0)
        codes = F.transform(
            v,
            lambda x: F.when(scale_ == 0, F.lit(0))
            .otherwise(F.round(x / scale_))
            .cast("tinyint"),
        )
        return F.struct(codes.alias("codes"), scale_.alias("scale"))

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    extra = spark.createDataFrame(
        [(-1, [0.0, 0.0, 0.0]), (-2, None), (-3, [1.5, None, -3.0])],
        "id int, v array<double>",
    )
    df = emb.unionByName(extra).select(
        "id",
        quantize_int8("v").alias("got"),
        reference("v").alias("ref"),
    )
    got, ref = df.schema["got"], df.schema["ref"]
    assert (got.dataType, got.nullable) == (ref.dataType, ref.nullable)
    rows = df.collect()
    assert len(rows) == emb.count() + 3
    for r in rows:
        assert r["got"] == r["ref"], r["id"]
    by_id = {r["id"]: r["got"] for r in rows}
    assert list(by_id[-1]["codes"]) == [0, 0, 0] and by_id[-1]["scale"] == 0.0
    assert by_id[-2]["codes"] is None and by_id[-2]["scale"] is None
