"""Vector math over ``array<numeric>`` columns as pure Column expressions.

All of these compile to Catalyst higher-order functions (``zip_with`` /
``aggregate``) evaluated JVM-side per row — no Python round-trip, no UDF
serialization — so a brute-force cosine scan stays in whole-stage codegen.
Elements are cast to double before arithmetic so results are independent of
the storage precision (the fixture embeddings are float32).

``dot`` is two higher-order functions, ``aggregate(zip_with(a, b,
(x, y) -> double(x) * double(y)), 0D, +)``: the casts ride inside the
``zip_with`` lambda, so no ``transform`` pass copies either array per
row. Each ``F.*`` call costs Py4J round trips to the JVM (``lit`` 3,
``transform`` 34, ``dot`` 103), so a query that builds many of them pays
for it in its build call; constant vectors go in as one SQL literal
(``operators/similarity._query_lit``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _d(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ (left-to-right accumulation, deterministic). NULL when
    either array is NULL, holds a NULL element or is shorter (``zip_with``
    pads it with NULLs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """NULL for zero-norm vectors (try_divide), not an ANSI runtime error."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: struct(codes array<tinyint>,
    scale double) with ``value ≈ code × scale``, scale = max|x| / 127.

    4× storage shrink for embedding columns — at 100 TB the dominant
    ANN-index cost is reading vectors, and int8 recall loss is negligible
    for cosine ranking (the standard faiss/SQ8 trade). Pure JVM
    expressions: a transform + round per element, no UDF. A zero vector
    quantizes to scale 0 with all-zero codes; :func:`dequantize_int8`
    restores it exactly.
    """
    v = _d(a)
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


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> ≈ the original."""
    q = F.col(q) if isinstance(q, str) else q
    return F.transform(
        q["codes"], lambda c: c.cast("double") * q["scale"]
    )


def scale(a: Column | str, s: Column) -> Column:
    return F.transform(_d(a), lambda x: x * s)
