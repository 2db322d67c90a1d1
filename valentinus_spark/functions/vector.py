"""Vector algebra as JVM-side Catalyst expressions (no Python in the hot
path).

The reference's only scalar computation is the raw dot product inside its
scan loop (embeddings.rs:365: ``Σ qᵢ·cᵢ``) and KdTree L2 distance
(embeddings.rs:402-408). Here each is a composition of ``zip_with`` +
``aggregate`` over ``array<float>`` columns — whole-stage-codegen'd, so a
cosine scan is a single codegen stage over columnar Parquet input instead
of the reference's single-threaded deserialized-blob loop.

All functions accept a column (array<numeric>) and either another column or
a Python sequence — the broadcast-query-vector case: the driver embeds the
query once and ships it into every task as ONE typed ``array<double>``
literal (embeddings.rs:343-349 ≈ literal_vector), one plan leaf whatever
the dim. For a Python query, ``cosine_similarity`` also folds |q| on the
driver and ships it as a double constant, so no row aggregates over the
constant query vector.

Accumulation is double-precision left-fold regardless of input element
type, matching DuckDB's list_dot_product closely enough that results agree
to ~1e-12 (the correctness harness rounds to 4 decimals). The driver-side
|q| uses the same fold, in the same order, so it is bit-identical to
``l2_norm`` evaluated in Spark.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def literal_vector(values: Sequence[float]) -> Column:
    """A query vector as ONE ``array<double>`` Literal (broadcast to all
    tasks). Built from a float64 ndarray, so values round-trip exactly
    (float32 inputs widen losslessly), and a single leaf keeps the
    analyzer from walking dim children on every DataFrame op."""
    return F.lit(np.asarray(values, dtype=np.float64))


def vector_norm(values: Sequence[float]) -> float:
    """|v| of a driver-side vector, folded exactly as ``l2_norm`` folds a
    column (``acc + x*x`` left to right from 0.0, then sqrt), so the
    driver constant is bit-identical to the per-row aggregate."""
    acc = 0.0
    for x in np.asarray(values, dtype=np.float64).tolist():
        acc = acc + x * x
    return math.sqrt(acc)


def _as_col(v: Column | Sequence[float]) -> Column:
    return v if isinstance(v, Column) else literal_vector(v)


def dot(a: Column | str, b: Column | Sequence[float]) -> Column:
    """Raw dot product (reference embeddings.rs:365)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), _as_col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """|a| per row: sqrt of the ``acc + x*x`` left fold from 0.0."""
    return F.sqrt(
        F.aggregate(a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def finite_score(c: Column | str) -> Column:
    """True when a double score is finite. Spark's float total order
    treats NaN as GREATER than +Infinity and ``NaN > 0`` as true, so a
    single garbage embedding (NaN/Inf components, or magnitudes whose
    dot product overflows) would rank FIRST in every similarity-desc
    top-k unless excluded. Both bound checks are false for NaN under
    the same total order, so this one predicate screens NaN and ±Inf."""
    c = F.col(c) if isinstance(c, str) else c
    dmax = 1.7976931348623157e308
    return (c >= F.lit(-dmax)) & (c <= F.lit(dmax))


def finite_embedding(a: Column | str) -> Column:
    """True when every component is finite AND the squared norm stays in
    double range — a [1e300, ...] vector has finite components but an
    overflowing second moment that turns Gram/covariance accumulation
    non-finite (breeze SVD then fails to converge). One aggregate
    covers both: any NaN/Inf component or an overflowing norm² makes
    the sum non-finite."""
    a = F.col(a) if isinstance(a, str) else a
    n2 = F.aggregate(
        a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return finite_score(n2)


def cosine_similarity(a: Column | str, b: Column | Sequence[float]) -> Column:
    """True cosine = dot/(|a||b|). The reference calls its raw dot "cosine"
    (embeddings.rs:334-372) — that is only cosine for pre-normalized
    vectors; ``dot()`` is the compat mode (SURVEY.md §7.4.2).

    A Python ``b`` gets its norm from ``vector_norm`` on the driver; a
    column ``b`` is normed per row."""
    a = F.col(a) if isinstance(a, str) else a
    if isinstance(b, Column):
        return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))
    return cosine_from_norms(a, literal_vector(b), l2_norm(a), F.lit(vector_norm(b)))


def cosine_from_norms(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """dot(a, b) / (a_norm * b_norm) for callers that already hold the
    norms (a driver constant, or a per-row column computed before a
    cross join)."""
    denom = a_norm * b_norm
    # zero vectors (e.g. empty documents) get similarity 0, not a
    # divide-by-zero (ANSI mode errors on x/0)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def l2_distance(a: Column | str, b: Column | Sequence[float]) -> Column:
    """Euclidean distance (reference KdTree metric, embeddings.rs:402-408)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.zip_with(a.cast("array<double>"), _as_col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize an embedding column (so raw dot ≡ cosine)."""
    a = F.col(a) if isinstance(a, str) else a
    a = a.cast("array<double>")
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)


def zorder_key(*cols, bits: int = 16):
    """Z-order (Morton) interleave of numeric columns — a single sort key
    that clusters rows on BOTH dimensions at once, so range predicates on
    either column skip row groups after ``save(sort_by=[zorder_key(...)])``
    (single-column sort_by only prunes its own column; Delta's OPTIMIZE
    ZORDER BY is this same trick as a service).

    Columns are rank-normalized to [0, 2^bits) by the caller or passed as
    already-bounded non-negative ints; interleaving is pure Catalyst bit
    arithmetic (shiftleft/bitwise or), no UDF."""
    from pyspark.sql import functions as F

    out = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for i, c in enumerate(cols):
            col = F.col(c) if isinstance(c, str) else c
            src_bit = F.shiftright(col.cast("long"), bit).bitwiseAND(F.lit(1))
            out = F.shiftleft(out, 1).bitwiseOR(src_bit)
    return out


def quantize_embedding(a: Column | str):
    """Scalar int8 quantization of a float vector: per-vector max-abs
    scale, values rounded to [-127, 127]. Returns a struct
    (q: array<tinyint>, scale: float) — 4x smaller on disk and in
    shuffle than float32, ~8x than the double it widens to in compute.
    For cosine ranking the scale CANCELS (cos(q·s) = cos(q)), so
    approximate search over quantized vectors needs no dequantization
    at all; dequantize only to recover absolute magnitudes."""
    from pyspark.sql import functions as F

    a = F.col(a) if isinstance(a, str) else a
    mx = F.aggregate(
        a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(mx > 0, mx / 127.0).otherwise(F.lit(1.0))
    q = F.transform(a, lambda x: F.round(x.cast("double") / scale).cast("tinyint"))
    return F.struct(q.alias("q"), scale.cast("float").alias("scale"))


def dequantize_embedding(qs: Column | str) -> Column:
    """Inverse of quantize_embedding: struct(q, scale) → array<float>."""
    from pyspark.sql import functions as F

    qs = F.col(qs) if isinstance(qs, str) else qs
    return F.transform(
        qs["q"], lambda x: (x.cast("double") * qs["scale"]).cast("float")
    )
