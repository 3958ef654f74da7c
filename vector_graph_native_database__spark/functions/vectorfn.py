"""Vector math as native Spark column expressions.

Every function here is a pure Catalyst expression over
``array<float|double>`` columns — JVM-evaluated inside whole-stage
codegen, no Python in the loop. Accumulation is float64 left-to-right
in array order, which the DuckDB oracle reproduces exactly
(``list_dot_product`` over ``DOUBLE[]`` casts).

Semantics mirror the reference (SURVEY.md §2.3):
- ``dot``: raw dot product — the reference's similarity score
  (``app.py:409``); equals cosine only for pre-normalized vectors.
- ``l2_normalize``: v/||v||₂ with the zero-vector guard
  (``app.py:374-377``).
- ``minmax_normalize``: (v-min)/(max-min); the all-equal edge case
  maps every score to 1.0 (``app.py:695-705``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators._keyed import attach, key_cols


def _d(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Float64 dot product of two array columns (order-stable sum)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def stable_round6(c: Column) -> Column:
    """Engine-identical half-up rounding of a double expression.

    Spark's round() decides on the exact binary expansion while
    DuckDB's multiplies by 1e6 in double — they disagree on values
    that print as 6-decimal halfway points. floor(x*1e6+0.5)/1e6 is
    pure IEEE double arithmetic, so every engine computes the same
    bits. SQL twin: ``floor(x * 1000000.0 + 0.5) / 1000000.0``.
    """
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(a: Column | str) -> Column:
    """v / ||v||₂; zero vector stays zero (reference guard).

    The norm is packed into a 1-element struct array and the division
    references the struct FIELD — binding the scalar once per row.
    Capturing the ``aggregate`` norm directly in the transform lambda
    re-evaluates it per element (O(d²) interpreted ops per row; 8×
    slower end-to-end on 256-dim embedding materialization), and a
    two-step projection doesn't survive Catalyst's project collapse.
    """
    v = _d(a)
    packed = F.array(F.struct(v.alias("v"), l2_norm(a).alias("n")))
    return F.transform(
        packed,
        lambda s: F.when(
            s["n"] > 0, F.transform(s["v"], lambda x: x / s["n"])
        ).otherwise(s["v"]),
    )[0]


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either norm is zero."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def minmax_normalize(
    df: DataFrame, score_col: str, out_col: str = "norm_score"
) -> DataFrame:
    """Min-max normalize a score column to [0,1] over the whole frame,
    or per query when ``df`` carries a ``qid`` key column.

    All-equal (max == min) maps everything to 1.0, matching the
    reference's observable behavior. Implemented as one min/max
    aggregate attached back (a broadcast of one row per query — no
    per-row window, so it scales to any row count).
    """
    bounds = df.groupBy(*key_cols(df)).agg(
        F.min(score_col).alias("__mn"), F.max(score_col).alias("__mx")
    )
    return (
        attach(df, bounds)
        .withColumn(
            out_col,
            F.when(F.col("__mx") == F.col("__mn"), F.lit(1.0)).otherwise(
                (F.col(score_col) - F.col("__mn"))
                / (F.col("__mx") - F.col("__mn"))
            ),
        )
        .drop("__mn", "__mx")
    )


def quantize_int8(vec: Column | str) -> tuple[Column, Column]:
    """Symmetric int8 scalar quantization → (scale, qvec).

    q_i = floor(v_i·127/scale + 0.5) with scale = max|v| (zero vector
    → scale 0, all-zero codes). 4× smaller than float32 at 100 TB
    embedding-store scale; dequantization is q_i·scale/127 with max
    abs error scale/254. floor(x+0.5) is pure IEEE double arithmetic,
    so the DuckDB oracle (`floor(x*127/scale + 0.5)`) computes
    identical codes.
    """
    v = _d(vec)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # pack the scale into a struct field so the quantizing lambda
    # binds it once per row (same O(d²) hazard as l2_normalize)
    packed = F.array(F.struct(v.alias("v"), scale.alias("s")))
    q = F.transform(
        packed,
        lambda p: F.when(
            p["s"] == 0.0, F.transform(p["v"], lambda x: F.lit(0))
        ).otherwise(
            F.transform(
                p["v"],
                lambda x: F.floor(
                    x * F.lit(127.0) / p["s"] + F.lit(0.5)
                ).cast("int"),
            )
        ),
    )[0]
    return scale, q
