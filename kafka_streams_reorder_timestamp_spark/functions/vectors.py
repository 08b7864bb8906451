"""Vector math over ``array<float|double>`` columns, all JVM-side.

Arithmetic is done in double with a strict left-to-right fold
(``F.aggregate``), which matches DuckDB's sequential list reduction —
that is what makes the similarity queries value-hash-identical against
the oracle instead of differing by summation-order ulps.

At scale: these are ordinary Catalyst expressions — they vectorize,
pipeline inside whole-stage codegen, and never cross into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column | str) -> Column:
    """Cast array<float> to array<double> once, up front — float32
    multiplies accumulate error differently per engine."""
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast(
        "array<double>"
    )


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product, left-to-right summation (matches DuckDB's
    sequential list reduction, so oracle hashes agree bit-for-bit).

    With `dim` given, the loop is unrolled into a flat
    ``a[1]*b[1] + a[2]*b[2] + ...`` expression: Spark does NOT codegen
    higher-order array lambdas (`aggregate`/`zip_with` run interpreted,
    per element), while the unrolled form stays inside whole-stage
    codegen — ~10x faster on the similarity joins' hot path. Without
    `dim`, falls back to the generic fold.

    When `a`/`b` are column NAMES the unrolled expression is built as
    one SQL string (a single py4j round trip + one parse) instead of
    ~3*dim Column-API calls — the Column-object route spends more
    driver time constructing the tree than the executors spend
    evaluating it. The parsed tree is identical (left-associative
    `+`), so results and oracle hashes are unchanged.
    """
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            " + ".join(
                f"element_at({a}, {i}) * element_at({b}, {i})"
                for i in range(1, dim + 1)
            )
        )
    if dim is not None:
        out = F.element_at(a, 1) * F.element_at(b, 1)
        for i in range(2, dim + 1):
            out = out + F.element_at(a, i) * F.element_at(b, i)
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Cosine similarity in double precision."""
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))
