"""Vector math over ``ArrayType(FloatType())`` columns — all native
higher-order functions (``zip_with``/``aggregate``), JVM-side, codegen'd.

Used by the similarity-search operators (north-star §2b). At 100 TB the dot
product must not cross into Python per row; these expressions keep the hot
loop in the JVM. A Pandas-UDF variant exists in operators/similarity.py for
when numpy BLAS batching wins (wide vectors).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hof import bind


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a: Column | str) -> Column:
    """Unit-normalize once upstream so similarity joins reduce to dot
    products (normalize-then-dot beats cosine-per-pair at scale).

    The norm is BOUND once per row (round 14): an unbound reference
    inside the transform lambda re-ran the O(dim) norm fold per element
    — O(dim^2) per vector."""
    a = F.col(a) if isinstance(a, str) else a
    return bind(l2_norm(a), lambda n: F.transform(a, lambda x: x / n))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127, cells
    round to [-127, 127] — struct(scale, q). Cuts embedding storage and
    shuffle bytes 4x (float32) / 8x (float64); candidate generation over
    quantized vectors + exact re-rank over originals is the standard ANN
    memory ladder. All JVM expressions (transform/aggregate); zero vectors
    quantize to scale 0 with all-zero cells.
    """
    a = F.col(a) if isinstance(a, str) else a
    amax = F.aggregate(
        a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    # scale bound once per row (round 14): unbound, the per-cell lambda
    # re-ran the O(dim) max fold per element
    return bind(
        amax / F.lit(127.0),
        lambda scale: F.struct(
            scale.alias("scale"),
            F.transform(
                a,
                lambda x: F.when(scale > 0, F.round(x / scale).cast("tinyint"))
                .otherwise(F.lit(0).cast("tinyint")),
            ).alias("q"),
        ),
    )


def dequantize_int8(qs: Column | str) -> Column:
    """Inverse of ``quantize_int8``: x ≈ q * scale."""
    qs = F.col(qs) if isinstance(qs, str) else qs
    return F.transform(qs["q"], lambda v: v.cast("double") * qs["scale"])
