"""Order-dependency verification (swap detection).

Reference context (/root/reference): set-based OD discovery via stripped
partitions + range tables (od/fastod/fastod.h:20-50) and list-based ODs over
sorted partitions (od/order/order.h:17-47 — lhs/rhs are column *lists*
ordered lexicographically). The *verification* question those structures
answer: within each context partition, does ordering by the LHS list order
the RHS list — i.e. is there no "swap" pair with ``lhs_a <lex lhs_b`` but
``rhs_a >lex rhs_b``?

Spark-first: group to ``(context, lhs...)`` granularity with ``min/max`` of
the RHS key (a struct for RHS lists — Spark orders structs
lexicographically, exactly the list-OD comparison), then ONE ordered window
pass per context — the running max of ``max_rhs`` over strictly-smaller LHS
tuples must not exceed the current group's ``min_rhs``. Exact swap semantics
(ties within an LHS tuple are free to reorder), two shuffles total (hash agg
+ window sort), no pairwise joins. ``descending`` flips to a running *min*
vs ``max_rhs`` check (no negation, so it works for struct keys too).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from desbordante_spark.model import (
    as_cols, non_null, VerificationResult, verdict_fold,
)
from desbordante_spark.sources.readers import spread_small_input_by

__all__ = ["od_violations", "od_verify"]


def _od_groups(
    df: DataFrame,
    lhs: str | Sequence[str],
    rhs: str | Sequence[str],
    context: Sequence[str],
    descending: bool,
):
    """Grouped frame with the windowed swap evidence:
    ``(keys..., group_size, min_rhs, max_rhs, prev_extreme)`` where
    ``keys`` is context + lhs with each column once and ``prev_extreme`` is
    the running max (asc) / min (desc) of the preceding LHS groups' rhs
    extreme, plus the violation predicate."""
    lhs_cols, rhs_cols, context = as_cols(lhs), as_cols(rhs), list(context)
    keys = list(dict.fromkeys(context + lhs_cols))
    base = non_null(df, lhs_cols + rhs_cols)
    if context:
        # by-context spread (see spread_small_input_by): HashPartitioning on
        # the context satisfies both the (context, lhs) aggregation and the
        # per-context window below, so an under-parallel input pays exactly
        # ONE shuffle and every later stage runs at full parallelism
        base = spread_small_input_by(
            base.select(*dict.fromkeys(keys + rhs_cols)), context
        )
    rk = (
        F.col(rhs_cols[0])
        if len(rhs_cols) == 1
        else F.struct(*[F.col(c) for c in rhs_cols])
    )
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(rk).alias("min_rhs"),
        F.max(rk).alias("max_rhs"),
    )
    w = (
        Window.partitionBy(*context)
        .orderBy(*[F.col(c).asc() for c in lhs_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    if descending:
        g = g.withColumn("prev_extreme", F.min("min_rhs").over(w))
        viol = F.col("prev_extreme") < F.col("max_rhs")
    else:
        g = g.withColumn("prev_extreme", F.max("max_rhs").over(w))
        viol = F.col("prev_extreme") > F.col("min_rhs")
    return g, keys, viol


def od_violations(
    df: DataFrame,
    lhs: str | Sequence[str],
    rhs: str | Sequence[str],
    context: Sequence[str] = (),
    descending: bool = False,
) -> DataFrame:
    """LHS groups participating in a swap:
    ``(context..., lhs..., group_size, min_rhs, prev_max_rhs)`` where a
    lexicographically smaller LHS tuple already produced a larger RHS (asc;
    mirrored for ``descending``). Rows with null lhs/rhs are excluded (no
    order position). ``lhs``/``rhs`` accept a column name or a column list
    (list-based OD, order/order.h:17-47)."""
    g, keys, viol = _od_groups(df, lhs, rhs, context, descending)
    return g.filter(viol).select(
        *keys, "group_size", "min_rhs",
        F.col("prev_extreme").alias("prev_max_rhs"),
    )


def od_verify(
    df: DataFrame,
    lhs: str | Sequence[str],
    rhs: str | Sequence[str],
    context: Sequence[str] = (),
    descending: bool = False,
) -> VerificationResult:
    """OD verdict: holds iff no swap; error = violating-group fraction.
    Single action — total/violating group counts come from ONE aggregate
    over the windowed frame (no separate distinct().count() job)."""
    g, _, viol = _od_groups(df, lhs, rhs, context, descending)
    m = verdict_fold(g, [], "group_size", viol, "clusters").collect()[0]
    return VerificationResult.from_verdict(
        m,
        total_rows=int(m["num_clusters"]),
        violations=od_violations(df, lhs, rhs, context, descending),
        details={"lhs": tuple(as_cols(lhs)), "rhs": tuple(as_cols(rhs)),
                 "context": tuple(context), "descending": descending},
    )
