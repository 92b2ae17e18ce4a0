"""Vector math over ``array<float>`` embedding columns.

All ops are zip_with/aggregate folds over the array — JVM-side, no
UDF.  Sums fold left-to-right in element order, so results are
bit-identical to a left-associated explicit sum (what the DuckDB
oracle computes), provided both sides widen elements to double first.

Constant planes/centroids enter the plan as a SINGLE array literal
(``F.lit(nested_list)`` → one Literal node), never as a
``CreateArray`` of K×D scalar literals: a 16×64 constant spelled as
1024 expression nodes made every chained ``select``/``join`` re-run
analysis over a multi-thousand-node tree and dominated wall time
driver-side (measured: ann_ivf_topk 4.4s → 26s with fully unrolled
arithmetic, back under 2s with single-node literals — see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double(c: Column | str) -> Column:
    return _col(c).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold dot product in double precision."""
    prods = F.zip_with(as_double(a), as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize(a: Column | str, scale: int = 1000) -> Column:
    """Round each element to an integer grid — used to build exact-match
    oracle variants and cheap LSH-ish bucket keys."""
    return F.transform(as_double(a), lambda x: F.round(x * scale).cast("long"))


def random_projection_sign_bits(a: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket id from fixed hyperplanes (list of vectors).

    The planes are compile-time constants (deterministic, seeded
    upstream), so the bucket id is a pure expression: bit b = 1 iff
    dot(a, plane_b) >= 0.  The plane matrix is ONE nested-array
    literal.  At most 62 planes: bit weights are int64 2**b literals.
    """
    if len(planes) > 62:
        raise ValueError(
            f"random_projection_sign_bits supports at most 62 planes "
            f"(int64 bit weights), got {len(planes)}"
        )
    emb = as_double(a)
    parr = F.lit([[float(x) for x in p] for p in planes])
    weights = F.lit([2**b for b in range(len(planes))]).cast("array<bigint>")
    dots = F.transform(
        parr,
        lambda p: F.aggregate(
            F.zip_with(emb, p, lambda x, y: x * y), F.lit(0.0), lambda s, q: s + q
        ),
    )
    bits = F.zip_with(
        dots,
        weights,
        lambda d, w: F.when(d >= 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda s, b: s + b)


def nearest_centroid(a: Column | str, centroids: list[list[float]]) -> Column:
    """1-based argmax over centroid dot products (IVF cell id).

    Pure expression: K literal-dot products, array_position of the
    max.  Both engines compute identical doubles from identical
    constants and fold order, so the equality probe inside
    array_position is exact.  The centroid matrix is ONE literal node.
    """
    emb = as_double(a)
    carr = F.lit([[float(x) for x in c] for c in centroids])
    dots = F.transform(
        carr,
        lambda c: F.aggregate(
            F.zip_with(emb, c, lambda x, y: x * y), F.lit(0.0), lambda s, q: s + q
        ),
    )
    return F.array_position(dots, F.array_max(dots)).cast("long")


def is_valid(a: Column | str, max_abs: float = 1.0e6) -> Column:
    """Embedding intake validity contract (POISON.md): the vector is
    non-NULL, every element is present, finite, and |x| <= ``max_abs``,
    and at least one element is nonzero.

    Why each clause exists (each one killed a real operator in the
    poison sweep): a NULL vector or NULL element poisons every fold; a
    zero vector has no direction (cosine = 0/0, DIVIDE_BY_ZERO under
    ANSI); NaN propagates through every score and breaks cross-engine
    ordering; garbage-magnitude elements (the 1e30 corruption row)
    overflow int64 quantization grids and CAST-to-BIGINT bucket keys.
    ``max_abs`` = 1e6 is the documented sanity bound for unit-ish
    embedding scales — emb_norm_outliers is the audit that COUNTS
    violations; scoring operators exclude them via this gate.
    """
    c = _col(a)
    bad = F.exists(
        c,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(float(max_abs))),
    )
    nonzero = F.exists(c, lambda x: x != 0)
    return c.isNotNull() & ~bad & nonzero
