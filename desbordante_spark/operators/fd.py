"""FD / AFD verification (functional dependencies).

Reference semantics (/root/reference):
- FD ``X -> Y`` holds iff refining PLI(X) by Y adds no clusters
  (src/core/algorithms/fd/fd_verifier/fd_verifier.cpp:63-73).
- g1 error = conflicting *ordered* row pairs / (n^2 - n)
  (fd_verifier/stats_calculator.cpp:61-84; formula at :83). A pair conflicts
  when it agrees on X but not on Y.
- AFD: holds iff g1 <= error threshold; ``get_error()`` is the smallest
  threshold at which the AFD holds (fd_verifier.h:64-67).
- Highlights: per violating X-cluster — the cluster rows, the number of
  distinct Y values, and the proportion of the most frequent Y value
  (fd_verifier/highlight.h:11-35, stats_calculator.cpp:86-113), sorted by a
  configurable comparator (fd_verifier.h:76-83), default most-frequent-RHS
  proportion descending (fd_verifier.cpp:55).
- ``is_null_equal_null`` (config/names.h:12): true → nulls compare equal
  (one cluster); false → a row with a null in the checked columns is stripped
  from that column's PLI (position_list_index.cpp:53-59), i.e. it can never
  agree with any other row on that side.

Spark-first design: no PLI intersection — refining PLI(X) by Y *is*
``groupBy(X, Y)``. One job computes every verdict metric through a two-level
aggregation: level 1 ``groupBy(X+Y).count()`` (map-side partial agg absorbs
hot keys), level 2 ``groupBy(X)`` rolling up cluster size, #distinct Y,
within-Y equal pairs and the max Y frequency, then a final global rollup.
Evidence is a separate lazy DataFrame. No driver-side loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from desbordante_spark.model import (
    as_cols, capped_row_ids, FDResult, non_null, VERDICT_COLS, verdict_fold,
)

__all__ = ["fd_violations", "fd_verify", "fd_highlights", "fd_metrics_df",
           "pfd_metrics_df", "fd_unary_keys", "HIGHLIGHT_SORT_KEYS"]


def fd_unary_keys(df: DataFrame, cols: Sequence[str] | None = None) -> list[str]:
    """Single-column keys: columns whose PLI has no non-singleton cluster
    with nulls equal — ``PliBasedFDAlgorithm::GetKeys``
    (pli_based_fd_algorithm.cpp:34-45 via ``AllValuesAreUnique``,
    position_list_index.h:136-138). Golden-replayed against
    test_algo_interfaces.cpp's per-dataset key sets.

    ONE melted job for every column (no per-column Expand, no per-column
    jobs): explode each row into (column, injectively-encoded value)
    pairs, then a single groupBy finds every duplicated value. Map-side
    partial aggregation absorbs most duplicates before the shuffle, so
    the exchanged volume is ~the distinct-value mass, not n_rows×n_cols."""
    from desbordante_spark.discovery.common import encode_value

    cols = list(cols if cols is not None else df.columns)
    kv = F.array(*[
        F.struct(F.lit(c).alias("c"), encode_value(c).alias("v"))
        for c in cols
    ])
    dup = (
        df.select(F.explode(kv).alias("kv"))
        .groupBy(F.col("kv.c").alias("c"), F.col("kv.v").alias("v"))
        .count()
        .filter(F.col("count") > 1)
        .select("c")
        .distinct()
        .collect()
    )
    non_unique = {r["c"] for r in dup}
    return [c for c in cols if c not in non_unique]


def _rhs_key(df: DataFrame, rhs: Sequence[str], is_null_equal_null: bool,
             row_id: str | None):
    """Grouping key expressions for the RHS side.

    With null==null we group on the raw columns (Spark groups nulls
    together, matching the reference's single null cluster). With null!=null
    a null RHS makes the row its own singleton Y-class: substitute a
    per-row unique surrogate (requires ``row_id``).
    """
    if is_null_equal_null:
        return [F.col(c) for c in rhs]
    if row_id is None:
        raise ValueError("is_null_equal_null=False needs a row_id column "
                         "to make null RHS values pairwise-distinct")
    any_null = None
    for c in rhs:
        n = F.col(c).isNull()
        any_null = n if any_null is None else (any_null | n)
    keys = []
    for c in rhs:
        keys.append(
            F.when(any_null, F.concat(F.lit("\x00nulls:"), F.col(row_id).cast("string")))
            .otherwise(F.col(c).cast("string"))
            .alias(f"__rhs_{c}")
        )
    return keys


def _rhs_counts(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    is_null_equal_null: bool = True,
    row_id: str | None = None,
) -> DataFrame:
    """Level 1: ``groupBy(X+Y).count()`` as ``(X..., Y keys..., cnt)`` —
    also the incremental FD state (``dynamic.fd_state_init``). With null !=
    null, rows with a null LHS value are singletons in PLI(X) and can never
    conflict, so they are dropped up front."""
    base = df if is_null_equal_null else non_null(df, lhs)
    rhs_keys = _rhs_key(base, rhs, is_null_equal_null, row_id)
    return base.groupBy(*[F.col(c) for c in lhs], *rhs_keys).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _lhs_clusters(counts: DataFrame, lhs: Sequence[str]) -> DataFrame:
    """Level 2: per-LHS-cluster statistics from level-1 counts, the shared
    core of verdict + highlights.

    Output: ``(X..., cluster_size, num_distinct_rhs, eq_pairs2x, max_rhs_cnt)``
    where ``eq_pairs2x = sum_y cnt_y*(cnt_y-1)`` (ordered equal pairs within
    the cluster) — so conflicting ordered pairs of the cluster are
    ``cluster_size*(cluster_size-1) - eq_pairs2x``.
    """
    return counts.groupBy(*lhs).agg(
        F.sum("cnt").alias("cluster_size"),
        F.count(F.lit(1)).alias("num_distinct_rhs"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1)).alias("eq_pairs2x"),
        F.max("cnt").alias("max_rhs_cnt"),
    )


def _cluster_stats(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    is_null_equal_null: bool = True,
    row_id: str | None = None,
) -> DataFrame:
    """Levels 1 and 2 over a row frame (see ``_lhs_clusters``)."""
    return _lhs_clusters(
        _rhs_counts(df, lhs, rhs, is_null_equal_null, row_id), lhs
    )


def _fd_verdict(
    clusters: DataFrame, by: Sequence[str], error_threshold: float
) -> DataFrame:
    """g1 verdict over level-2 clusters: violating = more than one RHS."""
    return verdict_fold(
        clusters, by, "cluster_size", F.col("num_distinct_rhs") > 1, "pairs",
        error_threshold, agreeing_pairs="eq_pairs2x",
    )


def fd_violations(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    is_null_equal_null: bool = True,
    row_id: str | None = None,
) -> DataFrame:
    """Violating LHS clusters: ``(X..., cluster_size, num_distinct_rhs,
    most_frequent_rhs_proportion, conflict_pairs)`` — highlight-style rows
    (highlight.h:11-35) without the per-row lists."""
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    stats = _cluster_stats(df, lhs, rhs, is_null_equal_null, row_id)
    return stats.filter(F.col("num_distinct_rhs") > 1).select(
        *lhs,
        "cluster_size",
        "num_distinct_rhs",
        (F.col("max_rhs_cnt") / F.col("cluster_size")).alias(
            "most_frequent_rhs_proportion"
        ),
        (
            F.col("cluster_size") * (F.col("cluster_size") - 1)
            - F.col("eq_pairs2x")
        ).alias("conflict_pairs"),
    )


def fd_metrics_df(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    error_threshold: float = 0.0,
    is_null_equal_null: bool = True,
    row_id: str | None = None,
    by: Sequence[str] = (),
) -> DataFrame:
    """Verdict DataFrame (no action): ``(by..., total_rows,
    num_violating_clusters, num_violating_rows, error, holds)`` — one row per
    ``by`` group (per-partition verdicts), global single row when empty.
    g1 error, int holds, cross-engine comparable."""
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    by = as_cols(by)
    stats = _cluster_stats(df, by + lhs, rhs, is_null_equal_null, row_id)
    return _fd_verdict(stats, by, error_threshold).select(*by, *VERDICT_COLS)


def pfd_metrics_df(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    error_measure: str = "per_tuple",
    error_threshold: float = 0.0,
    is_null_equal_null: bool = True,
    by: Sequence[str] = (),
) -> DataFrame:
    """Probabilistic-FD verdict (PFDTane error measures,
    /root/reference/src/core/algorithms/fd/pfdtane/enums.h:6):

    - ``per_tuple``: 1 − Σ_clusters max_rhs_cnt / n — the fraction of rows
      that would need to change for the FD to hold.
    - ``per_value``: 1 − avg_clusters(max_rhs_cnt / cluster_size) — the
      average per-LHS-value violation mass.

    Output: ``(by..., total_rows, num_clusters, error, holds)``.
    """
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    by = as_cols(by)
    if error_measure not in ("per_tuple", "per_value"):
        raise ValueError(f"unknown error_measure {error_measure!r}")
    stats = _cluster_stats(df, by + lhs, rhs, is_null_equal_null)
    agg = stats.groupBy(*by).agg(
        F.coalesce(F.sum("cluster_size"), F.lit(0)).cast("long")
        .alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("num_clusters"),
        F.coalesce(F.sum("max_rhs_cnt"), F.lit(0)).cast("long").alias("_keep"),
        F.coalesce(
            F.sum(F.col("max_rhs_cnt").cast("double")
                  / F.col("cluster_size").cast("double")),
            F.lit(0.0),
        ).alias("_keep_frac"),
    )
    if error_measure == "per_tuple":
        err = F.when(
            F.col("total_rows") > 0,
            1.0 - F.col("_keep").cast("double")
            / F.col("total_rows").cast("double"),
        ).otherwise(F.lit(0.0))
    else:
        err = F.when(
            F.col("num_clusters") > 0,
            1.0 - F.col("_keep_frac") / F.col("num_clusters").cast("double"),
        ).otherwise(F.lit(0.0))
    return (
        agg.withColumn("error", err)
        .withColumn("holds",
                    (F.col("error") <= F.lit(error_threshold)).cast("int"))
        .select(*by, "total_rows", "num_clusters", "error", "holds")
    )


def fd_verify(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    error_threshold: float = 0.0,
    is_null_equal_null: bool = True,
    row_id: str | None = None,
) -> FDResult:
    """Full FD/AFD verdict in one aggregation job.

    ``error`` is g1 with denominator ``n^2 - n`` (stats_calculator.cpp:83);
    ``holds`` is exact-FD (no violating cluster) when ``error_threshold == 0``
    else the AFD comparison ``g1 <= threshold``.
    """
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    m = fd_metrics_df(
        df, lhs, rhs, error_threshold, is_null_equal_null, row_id
    ).collect()[0]
    return FDResult.from_verdict(
        m,
        violations=fd_violations(df, lhs, rhs, is_null_equal_null, row_id),
        lhs=tuple(lhs),
        rhs=tuple(rhs),
        details={"error_threshold": error_threshold,
                 "is_null_equal_null": is_null_equal_null},
    )


#: highlight orderings (fd_verifier.h:76-83 — 4 keys × asc/desc = the
#: reference's 8 sort orders): proportion (SortHighlightsByProportion*),
#: num_distinct_rhs (ByNum*), cluster_size (BySize*), lhs (ByLhs* — the LHS
#: value tuple itself); conflict_pairs is an extra.
HIGHLIGHT_SORT_KEYS = {
    "proportion": "most_frequent_rhs_proportion",   # reference default (desc)
    "cluster_size": "cluster_size",
    "num_distinct_rhs": "num_distinct_rhs",
    "conflict_pairs": "conflict_pairs",
    "lhs": None,  # sort by the LHS value columns themselves
}


def fd_highlights(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    row_id: str,
    is_null_equal_null: bool = True,
    sort_by: str = "proportion",
    ascending: bool = False,
    evidence_cap: int = 100,
) -> DataFrame:
    """Highlights with capped row-id evidence per violating cluster.

    Output: violating-cluster stats + ``row_ids`` (first ``evidence_cap`` ids
    ascending, deterministic) + ``truncated``; globally ordered by
    ``sort_by`` (default: most-frequent-RHS proportion descending,
    fd_verifier.cpp:55).
    """
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    key = HIGHLIGHT_SORT_KEYS[sort_by]
    out = capped_row_ids(
        df, fd_violations(df, lhs, rhs, is_null_equal_null, row_id), lhs,
        row_id, is_null_equal_null, evidence_cap,
    )
    if key is None:  # sort_by="lhs": order by the LHS value tuple
        return out.orderBy(
            *[(F.col(c).asc() if ascending else F.col(c).desc()) for c in lhs]
        )
    order = F.col(key).asc() if ascending else F.col(key).desc()
    return out.orderBy(order, *[F.col(c).asc() for c in lhs])
