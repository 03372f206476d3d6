"""2-D skyline (Pareto frontier) by bucketed decomposition.

A point survives iff no other point is strictly greater in BOTH
dimensions. The scale decomposition avoids both the quadratic
NOT-EXISTS and a single global sort (same two-phase shape as the
scalable NTILE, E77):

1. range-bucket the first dimension over a known domain — per-bucket
   max of the second dimension is an aggregate-sized frame;
2. suffix max over STRICTLY GREATER buckets — an ``n_buckets``-row
   window, broadcast back;
3. within a bucket, the greater-side max at each distinct first-dim
   value comes from the (bucket, d)-grain aggregate sorted per bucket
   — every sort in the plan is bounded by one bucket's distinct
   values;
4. keep iff the second dim ≥ every strictly-greater-side max (exact
   integer comparisons — callers pass integer-encoded values).

Shared by the ``skyline_orders`` catalog query and the brute-force
property test (tests/test_properties.py) so the production
decomposition itself is what the test exercises (ADVICE r5)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def skyline_2d(
    pts: DataFrame,
    d_col: str,
    p_col: str,
    lo: Column | int,
    hi: Column | int,
    n_buckets: int = 64,
) -> DataFrame:
    """Rows of ``pts`` not strictly dominated in (``d_col``,
    ``p_col``): no other row has BOTH a larger d and a larger p.
    ``lo``/``hi`` bound the d domain for bucketing (values outside
    are clamped into the edge buckets — correctness does not depend
    on the bounds, only bucket balance does). All input columns pass
    through.

    The (bucket, d)-grain max frame feeds BOTH the cross-bucket
    suffix max and the within-bucket window, and DataFrame plans
    share no common subtrees — unmaterialized, each consumer re-runs
    the corpus-scale groupBy (3 scans of the input per run where 2 is
    the shape's floor). It is still not persisted: round 16 measured
    a persist at 0.86 → 1.24 s solo at sf0.1 — the cached frame pins
    the full shuffle partitioning (tasks 17 → 238, AQE can no longer
    coalesce the tiny aggregate) while the recompute is a cheap
    pruned concurrent scan."""
    lo = F.lit(lo) if isinstance(lo, int) else lo
    hi = F.lit(hi) if isinstance(hi, int) else hi
    b = pts.withColumn(
        "__bkt",
        F.least(
            F.greatest(
                F.floor((F.col(d_col) - lo) * n_buckets / (hi - lo)), F.lit(0)
            ),
            F.lit(n_buckets - 1),
        ).cast("int"),
    )
    # per-(bucket, d) max p — the grain the greater-side scan runs on
    bd = b.groupBy("__bkt", d_col).agg(F.max(p_col).alias("__p_at_d"))
    # strictly-greater-bucket suffix max (tiny frame)
    per_b = bd.groupBy("__bkt").agg(F.max("__p_at_d").alias("__p_max"))
    w_suffix = (
        Window.orderBy(F.col("__bkt").desc()).rowsBetween(Window.unboundedPreceding, -1)
    )
    suffix = per_b.select(
        "__bkt",
        F.max("__p_max").over(w_suffix).alias("__newer_bkt_max"),
    )
    # within-bucket greater-side max per distinct d (sorts bounded by bucket)
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.col(d_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bd_newer = bd.select(
        "__bkt",
        d_col,
        F.max("__p_at_d").over(w_in).alias("__newer_in_bkt"),
    )
    # NULL threshold = "no strictly-greater point exists" (greatest()
    # ignores NULL operands, so the combined max is NULL only when
    # both sides are). A NULL-aware keep condition — NOT a sentinel:
    # a -1 stand-in would wrongly drop undominated points whose p is
    # below the sentinel (ADVICE r6), and the operator's contract is
    # any integer-encoded domain.
    thresh = bd_newer.join(F.broadcast(suffix), "__bkt").select(
        "__bkt",
        d_col,
        F.greatest("__newer_in_bkt", "__newer_bkt_max").alias("__newer_max"),
    )
    return (
        b.join(thresh, ["__bkt", d_col])
        .filter(
            F.col("__newer_max").isNull() | (F.col(p_col) >= F.col("__newer_max"))
        )
        .drop("__bkt", "__newer_max")
    )
