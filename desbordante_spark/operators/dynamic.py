"""Incremental (batch-CRUD / snapshot-delta) verification.

Reference: ``DynamicFDVerifier`` maintains incremental PLIs across
insert/update/delete statement batches and re-verifies after each batch
(/root/reference/src/core/algorithms/fd/fd_verifier/dynamic_fd_verifier.h:17-38,
dynamic_position_list_index.h; options ``insert``/``delete``/``update``,
config/names.h:62-64).

Spark-first state design: the sufficient statistic for FD/UCC verdicts is the
level-1 count table ``(X..., Y..., cnt)`` — NOT row-id PLIs. Applying a CRUD
batch is a union of ±1 deltas followed by a re-aggregation; verdict metrics
roll up from the state with exactly the same formulas as the batch verifiers
(so incremental and full recompute agree bit-for-bit — cross-validated in
tests). An update is modeled as delete(old) + insert(new), matching the
reference (``update`` pairs old/new rows).

At Iceberg scale the state table is bucketed by hash(X) so each batch's
re-aggregation shuffles only the delta plus touched buckets; the state is
orders of magnitude smaller than the fact table (distinct (X,Y) pairs).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from desbordante_spark.model import as_cols, VERDICT_COLS
from desbordante_spark.operators.fd import (
    _fd_verdict, _lhs_clusters, _rhs_counts,
)
from desbordante_spark.operators.ucc import _ucc_verdict

__all__ = [
    "fd_state_init",
    "state_apply",
    "fd_metrics_from_state",
    "ucc_state_init",
    "ucc_metrics_from_state",
    "fd_totals_from_state",
    "fd_apply_incremental",
    "ucc_totals_from_state",
    "ucc_apply_incremental",
    "metrics_row_from_totals",
]


def fd_state_init(df: DataFrame, lhs: Sequence[str], rhs: Sequence[str]) -> DataFrame:
    """Initial FD state: ``(lhs..., rhs..., cnt)`` level-1 counts."""
    return _rhs_counts(df, as_cols(lhs), as_cols(rhs))


def ucc_state_init(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Initial UCC state: ``(X..., cnt)`` key counts."""
    columns = as_cols(columns)
    return df.groupBy(*columns).agg(F.count(F.lit(1)).alias("cnt"))


def state_apply(
    state: DataFrame,
    key_cols: Sequence[str],
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Apply a CRUD batch to a count state. ``inserts``/``deletes`` are row
    DataFrames carrying the key columns (an update = delete old + insert
    new). Returns the new state; zero-count keys are dropped (the stripped-
    cluster analog). Raises nothing on over-deletes — counts clamp at the
    aggregation (validated upstream if needed)."""
    key_cols = list(key_cols)
    parts = [state.select(*key_cols, F.col("cnt").cast("long").alias("cnt"))]
    if inserts is not None:
        parts.append(
            inserts.select(*key_cols, F.lit(1).cast("long").alias("cnt"))
        )
    if deletes is not None:
        parts.append(
            deletes.select(*key_cols, F.lit(-1).cast("long").alias("cnt"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(*key_cols)
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


def fd_metrics_from_state(
    state: DataFrame,
    lhs: Sequence[str],
    error_threshold: float = 0.0,
    by: Sequence[str] = (),
) -> DataFrame:
    """FD verdict from the count state — the state IS ``fd_metrics_df``'s
    level-1 table, so this is the same level-2 + g1 fold over it."""
    by = as_cols(by)
    clusters = _lhs_clusters(state, by + as_cols(lhs))
    return _fd_verdict(clusters, by, error_threshold).select(*by, *VERDICT_COLS)


_TOTALS = ("total_rows", "num_violating_clusters", "num_violating_rows",
           "conflicts")


def _collect_totals(verdict: DataFrame) -> dict[str, int]:
    """The carried verdict scalars: the fold's global row, collected."""
    row = verdict.select(*_TOTALS).collect()[0]
    return {k: int(row[k]) for k in _TOTALS}


def fd_totals_from_state(state: DataFrame, lhs: Sequence[str]) -> dict[str, int]:
    """One-off fold of the FULL state into the carried verdict scalars —
    paid once at state init; every snapshot delta after that adjusts these
    totals from touched clusters only (``fd_apply_incremental``)."""
    clusters = _lhs_clusters(state, as_cols(lhs))
    return _collect_totals(_fd_verdict(clusters, [], 0.0))


def _apply_touched(state, keys, key_cols, totals, inserts, deletes, contrib):
    """Apply a CRUD delta to a count state, re-folding ONLY the clusters
    (``keys`` values) the delta touches: ``contrib`` folds a state slice
    into verdict scalars, and untouched clusters' contributions carry over
    inside ``totals``. Returns ``(new_state, new_totals)``."""
    deltas = [d for d in (inserts, deletes) if d is not None]
    if not deltas:
        return state, dict(totals)
    touched = deltas[0].select(*keys)
    for d in deltas[1:]:
        touched = touched.unionByName(d.select(*keys))
    touched = touched.distinct()
    # ONE pass over the state per delta: the touched slice is delta-sized —
    # pin it eagerly so the old-contribution fold, the re-aggregation, and
    # the new-contribution fold all run off the materialized slice instead
    # of re-scanning the state three times
    old_touched = state.join(
        F.broadcast(touched), keys, "left_semi"
    ).localCheckpoint(eager=True)
    old_contrib = contrib(old_touched)
    new_touched = state_apply(
        old_touched, key_cols, inserts, deletes
    ).localCheckpoint(eager=True)
    new_contrib = contrib(new_touched)
    new_totals = {
        k: totals[k] - old_contrib[k] + new_contrib[k] for k in totals
    }
    new_state = state.join(F.broadcast(touched), keys, "left_anti").unionByName(
        new_touched
    )
    return new_state, new_totals


def fd_apply_incremental(
    state: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    totals: dict[str, int],
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Snapshot-to-snapshot incremental FD verify (SURVEY §1.1.8): apply a
    CRUD delta and update the verdict scalars by recomputing ONLY the LHS
    clusters the delta touches. Returns ``(new_state, new_totals)``; feed
    ``new_totals`` to ``metrics_row_from_totals`` for the verdict row.

    Work is proportional to the delta, not the table: the touched-LHS set
    (distinct LHS values in the delta — small) broadcasts into one
    semi/anti-join pass over the state; untouched clusters' contributions
    carry over inside ``totals`` and are never re-aggregated. Equivalence
    with full recompute is exact — the per-cluster stats are integer
    sufficient statistics, so subtract-old-add-new is lossless
    (bit-for-bit gate in tests/test_round6.py)."""
    lhs = as_cols(lhs)
    return _apply_touched(
        state, lhs, [*lhs, *as_cols(rhs)], totals, inserts, deletes,
        lambda s: fd_totals_from_state(s, lhs),
    )


def ucc_totals_from_state(state: DataFrame) -> dict[str, int]:
    """Fold the UCC key-count state into carried verdict scalars."""
    return _collect_totals(_ucc_verdict(state, [], 0.0))


def ucc_apply_incremental(
    state: DataFrame,
    columns: Sequence[str],
    totals: dict[str, int],
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Snapshot-delta incremental UCC verify — the uniqueness analog of
    ``fd_apply_incremental`` (touched keys only; totals carried)."""
    columns = as_cols(columns)
    return _apply_touched(
        state, columns, columns, totals, inserts, deletes,
        ucc_totals_from_state,
    )


def metrics_row_from_totals(
    totals: dict[str, int],
    error_threshold: float = 0.0,
) -> dict:
    """Verdict row from carried scalars without a Spark job — the one
    driver-side mirror of ``model.verdict_fold``'s ``pairs`` error and
    ``holds`` rule (IEEE-identical: same integer inputs, same double
    division)."""
    n = totals["total_rows"]
    err = totals["conflicts"] / float(n * (n - 1)) if n > 1 else 0.0
    holds = (
        int(err <= error_threshold)
        if error_threshold > 0
        else int(totals["num_violating_clusters"] == 0)
    )
    return {
        "total_rows": n,
        "num_violating_clusters": totals["num_violating_clusters"],
        "num_violating_rows": totals["num_violating_rows"],
        "error": err,
        "holds": holds,
    }


def ucc_metrics_from_state(
    state: DataFrame,
    error_threshold: float = 0.0,
    by: Sequence[str] = (),
) -> DataFrame:
    """UCC verdict from the key-count state — the same AUCC fold as
    ``ucc_metrics_df``."""
    by = as_cols(by)
    return _ucc_verdict(state, by, error_threshold).select(*by, *VERDICT_COLS)
