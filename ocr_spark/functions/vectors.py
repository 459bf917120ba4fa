"""Vector math over ``array<float|double>`` columns, JVM-side via
higher-order functions (no Python crossing).

``F.aggregate`` is a sequential left fold, so the floating-point addition
order is deterministic and matches DuckDB's sequential list kernels —
which is what makes the cosine oracle comparison exact rather than
ulp-fuzzy.

Cosine has one zero-norm rule in both engines: a side with zero norm
(or a null side) gives cosine 0.0, the convention of the numpy block
kernels (``operators.similarity.cosine_block_pairs``). Without it Spark
with ANSI on raises DIVIDE_BY_ZERO and DuckDB's list cosine kernel
returns -1.0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot / (|a| |b|), each fold evaluated once; 0.0 for a zero-norm side."""
    return F.coalesce(F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b)), F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine_similarity` (for oracle generation).

    Both sides are cast to DOUBLE[] so the kernel runs in the same
    precision as the Spark fold. For float inputs the Spark divisor is 0
    exactly when a side has no non-zero element (squares of float32
    values cannot underflow a double), which is the test here."""
    a, b = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"

    def nonzero(x: str) -> str:
        return f"list_bool_or([v <> 0 FOR v IN {x}])"

    return (
        f"CASE WHEN {nonzero(a)} AND {nonzero(b)} "
        f"THEN list_cosine_similarity({a}, {b}) ELSE CAST(0 AS DOUBLE) END"
    )
