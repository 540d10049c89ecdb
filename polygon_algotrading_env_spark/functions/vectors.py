"""Vector math over ``array<numeric>`` columns as pure Column expressions.

All of these compile to Catalyst higher-order functions (``zip_with`` /
``aggregate``) evaluated JVM-side per row — no Python round-trip, no UDF
serialization — so a brute-force cosine scan stays in whole-stage codegen.
Elements are cast to double before arithmetic so results are independent of
the storage precision (the fixture embeddings are float32).

``dot`` is two higher-order functions, ``aggregate(zip_with(a, b,
(x, y) -> double(x) * double(y)), 0D, (acc, x) -> acc + x)``: the casts
ride inside the ``zip_with`` lambda, so no ``transform`` pass copies
either array per row. Each ``F.*`` call costs Py4J round trips to the
JVM (``lit`` 3, ``transform`` 34, a Column-built ``dot`` 103), so a query
that builds many of them pays for it in its build call. ``dot``, ``norm``
and ``cosine`` over ``str`` arguments therefore build one SQL string
(:func:`dot_sql`) and parse it with one ``F.expr``: a ``str`` argument is
SQL text, a column name or any expression, such as a constant vector from
:func:`vector_sql`. Column arguments keep the Column-built path.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column


def _d(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def _double_sql(x: float) -> str:
    """A double as a Spark SQL literal that parses back to the same bits:
    ``repr`` is the shortest round-tripping decimal, and the parser reads
    it with ``Double.parseDouble``."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"double('{x!r}')"


def vector_sql(values: list[float]) -> str:
    """The constant ``array<double>`` of ``values`` as SQL text, which the
    optimizer folds to one literal."""
    return "array(" + ", ".join(map(_double_sql, values)) + ")"


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over the SQL texts ``a`` and ``b``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        "0D, (acc, x) -> acc + x)"
    )


def _sql_args(*args: Column | str) -> bool:
    return all(isinstance(a, str) for a in args)


def _col(c: Column | str) -> Column:
    return F.expr(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ (left-to-right accumulation, deterministic). NULL when
    either array is NULL, holds a NULL element or is shorter (``zip_with``
    pads it with NULLs)."""
    if _sql_args(a, b):
        return F.expr(dot_sql(a, b))
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    if _sql_args(a):
        return F.expr(f"sqrt({dot_sql(a, a)})")
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """NULL for zero-norm vectors (try_divide), not an ANSI runtime error."""
    if _sql_args(a, b):
        return F.expr(
            f"try_divide({dot_sql(a, b)}, "
            f"sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
        )
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

    The codes bind the scale once per vector, as a field of the one
    element of an array that ``transform`` maps: written inside the
    per-element lambda, the scale's ``aggregate`` over the whole vector
    would be re-run for every element (O(d²) a vector; an interpreted
    lambda has no common-subexpression elimination).
    """
    v = _d(a)
    mx = F.aggregate(
        F.transform(v, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale_ = mx / F.lit(127.0)
    bound = F.array(F.struct(v.alias("v"), scale_.alias("s")))
    codes = F.transform(
        bound,
        lambda p: F.transform(
            p["v"],
            lambda x: F.when(p["s"] == 0, F.lit(0))
            .otherwise(F.round(x / p["s"]))
            .cast("tinyint"),
        ),
    )[0]
    return F.struct(codes.alias("codes"), scale_.alias("scale"))


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> ≈ the original."""
    q = F.col(q) if isinstance(q, str) else q
    return F.transform(
        q["codes"], lambda c: c.cast("double") * q["scale"]
    )


def scale(a: Column | str, s: Column) -> Column:
    return F.transform(_d(a), lambda x: x * s)
