"""Result model mirroring the reference's verifier surfaces.

Reference result surfaces (all file:line cites are into /root/reference):

- FD verify: ``fd_holds() / get_error() / get_num_error_clusters() /
  get_num_error_rows() / get_highlights()``
  (src/python_bindings/fd/bind_fd_verification.cpp:21-31,
  src/core/algorithms/fd/fd_verifier/fd_verifier.h:16-57).
- UCC verify: ``ucc_holds() / get_num_clusters_violating_ucc() /
  get_num_rows_violating_ucc() / get_clusters_violating_ucc() / get_error()``
  (src/python_bindings/ucc/bind_ucc_verification.cpp:20-24).
- MFD verify: ``mfd_holds() / get_highlights()``
  (src/python_bindings/mfd/bind_mfd_verification.cpp:21-27).

Here each verify returns a small dataclass of scalar verdict metrics plus a
**lazy violation DataFrame** (the scalable analog of the reference's
highlight/cluster lists, which materialize full row-index vectors in memory —
src/core/algorithms/fd/fd_verifier/highlight.h:11-35). Evidence row lists are
capped (``evidence_cap``) while all counts stay exact.

Shared plan builders live here too: ``verdict_fold`` rolls up every
verifier's verdict, and ``capped_row_ids`` builds the UCC/FD row-id
evidence.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_cols(x) -> list[str]:
    """Normalize a column-set argument: a bare string means ONE column.

    Every verifier takes ``Sequence[str]`` column sets; without this guard
    a caller passing ``"o_custkey"`` would have the string iterated
    character-by-character into nonsense column names (and fail with an
    unrelated UNRESOLVED_COLUMN error deep inside the plan)."""
    if isinstance(x, str):
        return [x]
    return list(x)


def non_null(df: DataFrame, cols) -> DataFrame:
    """Rows with no null in ``cols``: an explicit ``isNotNull`` conjunction,
    which pushes down to the parquet scan as IsNotNull (``na.drop``'s
    AtLeastNNulls does not)."""
    for c in cols:
        df = df.filter(F.col(c).isNotNull())
    return df


def verdict_fold(
    clusters: DataFrame,
    by,
    size: str | Column,
    violating: Column,
    error: str,
    error_threshold: float = 0.0,
    agreeing_pairs: str | None = None,
) -> DataFrame:
    """The one verdict rollup every verifier shares (a plan, no action).

    ``clusters`` has one row per cluster; ``size`` is its row count and
    ``violating`` flags the violating clusters. Output, one row per ``by``
    group (a single global row when ``by`` is empty, also over no input):
    ``(by..., total_rows, num_clusters, num_violating_clusters,
    num_violating_rows, error, holds)`` plus ``conflicts`` for ``pairs``.

    ``error`` picks the measure:

    - ``"pairs"`` — ``conflicts / (n*(n-1))`` with ``n = total_rows`` and
      ``conflicts = sum_c size_c*(size_c-1) - agreeing_pairs_c``: the AUCC
      error (ucc_stats_calculator.h:31-45) without ``agreeing_pairs``, g1
      (stats_calculator.cpp:83) with the FD's within-RHS equal pairs.
    - ``"clusters"`` — ``num_violating_clusters / num_clusters`` (IND, OD,
      MFD; span frames are one cluster per row).

    ``holds`` (int 1/0) is ``error <= error_threshold`` when the threshold
    is positive, else "no violating cluster". ``metrics_row_from_totals``
    in ``operators/dynamic.py`` is the driver-side mirror of ``pairs``."""
    size = F.col(size) if isinstance(size, str) else size

    def total(x):
        return F.coalesce(F.sum(x), F.lit(0)).cast("long")

    aggs = [
        total(size).alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("num_clusters"),
        total(F.when(violating, 1).otherwise(0)).alias("num_violating_clusters"),
        total(F.when(violating, size).otherwise(0)).alias("num_violating_rows"),
    ]
    if error == "pairs":
        pairs = size * (size - 1)
        if agreeing_pairs is not None:
            pairs = pairs - F.col(agreeing_pairs)
        aggs.append(total(pairs).alias("conflicts"))
        n = F.col("total_rows")
        num, den, nonempty = F.col("conflicts"), n * (n - 1), n > 1
    elif error == "clusters":
        k = F.col("num_clusters")
        num, den, nonempty = F.col("num_violating_clusters"), k, k > 0
    else:
        raise ValueError(f"unknown error kind {error!r}")
    err = F.when(
        nonempty, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    holds = (
        (F.col("error") <= F.lit(error_threshold))
        if error_threshold > 0
        else (F.col("num_violating_clusters") == 0)
    )
    return (
        clusters.groupBy(*by).agg(*aggs)
        .withColumn("error", err)
        .withColumn("holds", holds.cast("int"))
    )


def capped_row_ids(
    df: DataFrame,
    clusters: DataFrame,
    keys: list[str],
    row_id: str,
    is_null_equal_null: bool,
    evidence_cap: int,
) -> DataFrame:
    """Row-id evidence for violating ``clusters`` ``(keys..., cluster_size,
    stats...)``: each cluster's columns plus ``row_ids`` (its first
    ``evidence_cap`` ids ascending — deterministic, matching the reference's
    sort-cluster-by-first-row-id, position_list_index.cpp:114-117) and
    ``truncated``. ``cluster_size`` stays exact.

    Scale note: only rows of violating clusters reach the window, and the
    per-cluster cap bounds what ``collect_list`` aggregates."""
    rows = df if is_null_equal_null else non_null(df, keys)
    stats = [c for c in clusters.columns if c not in keys]
    # null-safe equi-join so null keys (one cluster under
    # is_null_equal_null) still match their evidence rows
    cond = [F.col(f"r.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys]
    tagged = rows.select(*keys, row_id).alias("r").join(
        clusters.alias("c"), cond, "inner"
    ).select(
        *[F.col(f"c.{k}") for k in keys], F.col(f"r.{row_id}"),
        *[F.col(f"c.{s}") for s in stats],
    )
    w = Window.partitionBy(*keys).orderBy(F.col(row_id).asc())
    capped = tagged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= evidence_cap
    )
    return capped.groupBy(*keys, *stats).agg(
        F.max("_rn").alias("_seen"),
        F.sort_array(F.collect_list(row_id)).alias("row_ids"),
    ).select(
        *keys, *stats, "row_ids",
        (F.col("cluster_size") > F.col("_seen")).alias("truncated"),
    )


#: the verdict columns of every ``*_metrics_df`` frame, after ``by``
VERDICT_COLS = ("total_rows", "num_violating_clusters", "num_violating_rows",
                "error", "holds")


@dataclass
class VerificationResult:
    """Base verdict: pass/fail + error measure + violation evidence."""

    holds: bool
    error: float
    num_violating_clusters: int
    num_violating_rows: int
    total_rows: int
    #: lazy evidence DataFrame; schema depends on the constraint kind
    violations: Optional[DataFrame] = None
    #: constraint-specific extras (thresholds, per-partition rows, ...)
    details: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_verdict(cls, row, **fields):
        """Result from one collected ``verdict_fold`` row; ``fields`` set
        the rest and may override a verdict field."""
        verdict = {
            "holds": bool(row["holds"]),
            "error": float(row["error"]),
            "num_violating_clusters": int(row["num_violating_clusters"]),
            "num_violating_rows": int(row["num_violating_rows"]),
            "total_rows": int(row["total_rows"]),
        }
        return cls(**{**verdict, **fields})


@dataclass
class UCCResult(VerificationResult):
    """UCC/AUCC verdict. ``error`` is the AUCC measure
    ``sum_c c*(c-1) / (n*(n-1))`` over violating clusters
    (ucc/ucc_verifier/ucc_stats_calculator.h:31-45)."""

    columns: tuple[str, ...] = ()


@dataclass
class FDResult(VerificationResult):
    """FD/AFD verdict. ``error`` is g1: conflicting ordered pairs over
    ``n^2 - n`` (fd/fd_verifier/stats_calculator.cpp:61-84, formula :83).
    For AFD, ``holds`` compares g1 to ``details['error_threshold']``
    (fd_verifier.h:64-67)."""

    lhs: tuple[str, ...] = ()
    rhs: tuple[str, ...] = ()


@dataclass
class INDResult(VerificationResult):
    """IND/AIND verdict (referential check). ``error`` is the AIND measure:
    fraction of distinct LHS values missing from RHS
    (ind/spider/attribute.cpp:10-21). ``num_violating_clusters`` = # missing
    distinct values; ``num_violating_rows`` = # rows referencing them."""

    lhs: tuple[str, ...] = ()
    rhs: tuple[str, ...] = ()


@dataclass
class MFDResult(VerificationResult):
    """Metric FD verdict (metric/metric_verifier.h:32-39). ``error`` here is
    the fraction of LHS clusters exceeding the tolerance ``parameter``."""

    lhs: tuple[str, ...] = ()
    rhs: tuple[str, ...] = ()
    metric: str = "euclidean"
    parameter: float = 0.0
