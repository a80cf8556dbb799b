"""Embedding/vector math as pure Spark SQL higher-order functions.

No UDFs: ``zip_with`` + ``aggregate`` compile to JVM-side expressions
inside whole-stage codegen, so similarity math runs at columnar speed
and needs no Python worker round-trip (SURVEY.md §8.3). Every lambda
casts float32 elements to DOUBLE before accumulating — float32
accumulation drifts from DuckDB/numpy at ~1e-8.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length array<float|double> columns."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array column."""
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double")
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-scale an array column (NULL-safe: zero vectors stay zero).

    The norm must NOT be captured inside a per-element ``transform``
    lambda — captured expressions re-evaluate per element, turning the
    O(d) norm into O(d²) per vector. ``zip_with`` against an
    ``array_repeat`` of the norm evaluates both inputs once.
    """
    a = _c(a)
    n = l2_norm(a)
    return F.when(n == 0, a.cast("array<double>")).otherwise(
        F.zip_with(
            a, F.array_repeat(n, F.size(a)), lambda x, nn: x.cast("double") / nn
        )
    )


def cosine(a: Column | str, na: Column | str, b: Column | str, nb: Column | str) -> Column:
    """Cosine of two vectors from their norms: ``dot(a, b) / (na * nb)``,
    NULL when ``na * nb == 0``. The one pair cosine of the package.

    ``na``/``nb`` must be norm columns projected with ``l2_norm`` below
    the pair join, so each norm is computed once per vector and the pair
    loop costs one dot and one divide. This is the IEEE tree of the DuckDB
    oracles' ``_COS`` fragment (a raw dot over a materialized norm
    product, NULLIF(na*nb, 0)). Pre-normalizing the vectors and dotting
    the unit vectors is a different tree: sum((xi/na)*(yi/nb)) differs by
    up to ~2e-15, enough to cross a 6 dp round or a 1e-9 floor grid cell
    (cluster_medoids, CLAUDE.md). Guarding the product instead of each
    factor nulls the same pairs: a nonzero double norm is at least
    sqrt(5e-324) ~ 2.2e-162, so two of them never multiply to 0.
    """
    na, nb = _c(na), _c(nb)
    return F.when(na * nb == 0, F.lit(None).cast("double")).otherwise(
        dot(a, b) / (na * nb)
    )


def quantize_int8(vec: Column | str, qmin: Column | str, qmax: Column | str) -> Column:
    """Per-vector int8 scalar quantization: maps each element of a
    double array onto [-128, 127] against the vector's own [qmin,
    qmax] range (code = floor((x-qmin)/(qmax-qmin)*255 + 0.5) - 128).
    A constant vector (qmax == qmin) quantizes to all zeros.

    ``qmin``/``qmax`` must be MATERIALIZED columns (array_min/array_max
    staged via withColumn), never inline aggregate expressions — a
    captured aggregate re-evaluates per element (the O(d²) lambda-
    capture trap); captured column refs are O(1). floor(x + 0.5) is
    used instead of round() deliberately: both engines floor the same
    IEEE double, where round() would split half-up vs half-even.

    At 100 TB this is the storage/bandwidth path: 4x smaller than
    float32 (16x vs the double shuffle), so candidate generation can
    scan codes and only the rerank touches full-precision vectors.
    """
    scale = _c(qmax) - _c(qmin)
    return F.when(
        scale == 0, F.transform(_c(vec), lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            _c(vec),
            lambda x: (F.floor((x - _c(qmin)) / scale * 255 + F.lit(0.5)) - 128).cast(
                "int"
            ),
        )
    )


def dequantize_int8(codes: Column | str, qmin: Column | str, qmax: Column | str) -> Column:
    """Inverse of ``quantize_int8`` (lossy: ≤ half a quantization step
    per element): x̂ = (code + 128) / 255 * (qmax - qmin) + qmin."""
    scale = _c(qmax) - _c(qmin)
    return F.transform(
        _c(codes),
        lambda c: (c.cast("double") + 128) / 255 * scale + _c(qmin),
    )
