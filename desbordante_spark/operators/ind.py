"""IND / AIND verification (inclusion dependencies, referential checks).

Reference semantics (/root/reference):
- IND ``R[X] ⊆ S[Y]`` holds iff every distinct value combination of R[X]
  appears in S[Y] (ind/ind.h:14-44; Spider mines these by merging sorted
  distinct value domains, ind/spider/spider.cpp:66-103).
- AIND error = ``1 - |distinct(R[X]) ∩ distinct(S[Y])| / |distinct(R[X])|``
  — the fraction of distinct LHS values missing from the RHS
  (ind/spider/attribute.cpp:10-21, MineAINDs spider.cpp:115-121).
- Nulls are not inclusion witnesses: a null LHS value is ignored (matches
  SQL FK semantics and Spider's ignore-null handling, config/names.h:54
  ``ignore_null_cols``).

Spark-first design: distinct-domain containment is an anti-join on
``distinct()`` projections. For the north-rule referential check
(span ``media_ref`` → media catalog) the RHS is a dimension table —
broadcast it so the probe side never shuffles. Error metrics come from one
job over the anti-join counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from desbordante_spark.model import as_cols, INDResult, non_null, verdict_fold

__all__ = ["ind_missing_values", "ind_verify", "ind_metrics_df",
           "ind_approx_check"]


def ind_missing_values(
    lhs_df: DataFrame,
    lhs: Sequence[str],
    rhs_df: DataFrame,
    rhs: Sequence[str],
    broadcast_rhs: bool = True,
) -> DataFrame:
    """Distinct LHS value combinations absent from the RHS, with their row
    support: ``(X..., ref_count)``. Empty ⇒ the IND holds."""
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    left = (
        non_null(lhs_df, lhs)
        .groupBy(*lhs)
        .agg(F.count(F.lit(1)).alias("ref_count"))
    )
    right = non_null(rhs_df, rhs).select(*rhs).distinct()
    if broadcast_rhs:
        right = F.broadcast(right)
    cond = [left[a] == right[b] for a, b in zip(lhs, rhs)]
    return left.join(right, cond, "left_anti")


def ind_metrics_df(
    lhs_df: DataFrame,
    lhs: Sequence[str],
    rhs_df: DataFrame,
    rhs: Sequence[str],
    error_threshold: float = 0.0,
    broadcast_rhs: bool = True,
    by: Sequence[str] = (),
) -> DataFrame:
    """Verdict DataFrame (no action): ``(by..., total_distinct,
    num_missing_values, num_violating_rows, error, holds)`` — one row per
    ``by`` group of the LHS table (per-partition verdicts), global single row
    when empty.

    A left join against the distinct RHS domain (broadcast when it's a
    dimension) classifies each distinct LHS value in one pass — no separate
    anti-join + count jobs.
    """
    by = as_cols(by)
    verdict = _ind_verdict(
        lhs_df, lhs, rhs_df, rhs, error_threshold, broadcast_rhs, by
    )
    return verdict.select(
        *by,
        F.col("num_clusters").alias("total_distinct"),
        F.col("num_violating_clusters").alias("num_missing_values"),
        "num_violating_rows", "error", "holds",
    )


def _ind_verdict(lhs_df, lhs, rhs_df, rhs, error_threshold, broadcast_rhs,
                 by) -> DataFrame:
    """The fold over distinct LHS values (one cluster each, sized by its
    row support); violating = missing from the RHS domain."""
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    left = (
        non_null(lhs_df, lhs)
        .groupBy(*by, *lhs)
        .agg(F.count(F.lit(1)).alias("ref_count"))
        .alias("l")
    )
    right = non_null(rhs_df, rhs).select(*rhs).distinct().alias("r")
    if broadcast_rhs:
        right = F.broadcast(right)
    cond = [F.col(f"l.{a}") == F.col(f"r.{b}") for a, b in zip(lhs, rhs)]
    clusters = left.join(right, cond, "left").select(
        *[F.col(f"l.{c}").alias(c) for c in by],
        F.col("l.ref_count").alias("ref_count"),
        F.col(f"r.{rhs[0]}").isNull().alias("missing"),
    )
    return verdict_fold(
        clusters, by, "ref_count", F.col("missing"), "clusters",
        error_threshold,
    )


def ind_approx_check(
    lhs_df: DataFrame,
    lhs: Sequence[str],
    rhs_df: DataFrame,
    rhs: Sequence[str],
    rsd: float = 0.02,
) -> DataFrame:
    """Faida-style sketch containment check (one row):
    ``(lhs_distinct_approx, rhs_distinct_approx, union_distinct_approx,
    holds_approx)``.

    Reference: Faida tests n-ary IND candidates with HyperLogLog sketches —
    ``R[X] ⊆ S[Y]`` approximately iff ``|distinct(Y ∪ X)| ≈ |distinct(Y)|``
    (/root/reference/src/core/algorithms/ind/faida/faida.h:20-24,
    inclusion_testing/hyperloglog.h; ``hll_accuracy`` option
    config/names.h:52).

    Spark-first: ``approx_count_distinct`` IS HLL++; the union cardinality
    comes from a unioned projection — one pass over each side, no exact
    distinct shuffle. Use for cheap pruning before the exact
    ``ind_verify`` (the Faida→Spider two-phase trade)."""
    lhs = list(lhs)
    rhs = list(rhs)
    l_proj = non_null(lhs_df, lhs).select(
        *[F.col(c).cast("string").alias(f"v{i}") for i, c in enumerate(lhs)]
    )
    r_proj = non_null(rhs_df, rhs).select(
        *[F.col(c).cast("string").alias(f"v{i}") for i, c in enumerate(rhs)]
    )
    key = F.struct(*[F.col(f"v{i}") for i in range(len(lhs))])
    l_cnt = l_proj.agg(F.approx_count_distinct(key, rsd).alias("c"))
    r_cnt = r_proj.agg(F.approx_count_distinct(key, rsd).alias("c"))
    u_cnt = l_proj.unionByName(r_proj).agg(
        F.approx_count_distinct(key, rsd).alias("c")
    )
    j = (
        l_cnt.withColumnRenamed("c", "lhs_distinct_approx")
        .crossJoin(r_cnt.withColumnRenamed("c", "rhs_distinct_approx"))
        .crossJoin(u_cnt.withColumnRenamed("c", "union_distinct_approx"))
    )
    # holds approximately iff the union adds (nearly) nothing beyond rhs —
    # tolerance = 2*rsd of the rhs cardinality
    tol = 1.0 + 2.0 * rsd
    return j.withColumn(
        "holds_approx",
        (
            F.col("union_distinct_approx")
            <= F.col("rhs_distinct_approx") * F.lit(tol)
        ).cast("int"),
    )


def ind_verify(
    lhs_df: DataFrame,
    lhs: Sequence[str],
    rhs_df: DataFrame,
    rhs: Sequence[str],
    error_threshold: float = 0.0,
    broadcast_rhs: bool = True,
) -> INDResult:
    """Full IND/AIND verdict.

    ``error`` = missing distinct-value fraction (Spider AIND measure);
    ``num_violating_clusters`` = # missing distinct values,
    ``num_violating_rows`` = # LHS rows referencing a missing value,
    ``total_rows`` = # distinct non-null LHS values.
    """
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    m = _ind_verdict(
        lhs_df, lhs, rhs_df, rhs, error_threshold, broadcast_rhs, []
    ).collect()[0]
    return INDResult.from_verdict(
        m,
        total_rows=int(m["num_clusters"]),
        violations=ind_missing_values(lhs_df, lhs, rhs_df, rhs, broadcast_rhs),
        lhs=tuple(lhs),
        rhs=tuple(rhs),
        details={"error_threshold": error_threshold},
    )
