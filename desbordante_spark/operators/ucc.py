"""UCC / AUCC verification (unique column combinations).

Reference semantics (/root/reference):
- A UCC over columns X holds iff the PLI over X has no cluster of size > 1
  (src/core/algorithms/ucc/ucc_verifier/ucc_verifier.cpp:64-69).
- AUCC error = ``sum_over_clusters c*(c-1) / (n*(n-1))``
  (ucc_verifier/ucc_stats_calculator.h:31-45) — unordered violating pairs over
  all row pairs, i.e. the probability two random distinct rows agree on X.
- Evidence = the violating clusters as row-index lists, sorted by first row id
  (src/core/model/table/position_list_index.cpp:114-117).
- ``is_null_equal_null`` (src/core/config/names.h:12): true → all-null keys
  form one cluster (Spark groupBy's native behavior); false → rows with a null
  in X are dropped from clusters before verification
  (position_list_index.cpp:53-59).

Spark-first design (NOT a PLI port): the PLI questions are answered by a
single hash aggregation ``groupBy(X).count()`` — Catalyst performs map-side
partial aggregation, so even a 10^12-row scan sends at most one partial row
per (partition, key) into the shuffle; a hot duplicate key therefore cannot
skew the exchange. All verdict metrics come from ONE two-level aggregation
job (no driver-side iteration). ``ucc_verify`` reads its evidence from the
duplicate keys that job checkpointed (``model.checkpointed_verdict``); row-id
lists are capped per cluster via a window `row_number` so a pathological
billion-row cluster never materializes on one task beyond the cap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from desbordante_spark.model import (
    as_cols, capped_row_ids, checkpointed_verdict, non_null, UCCResult,
    VERDICT_COLS, verdict_fold,
)
from desbordante_spark.sources.readers import spread_small_input_by

__all__ = ["ucc_violations", "ucc_verify", "ucc_violating_clusters", "ucc_metrics_df"]


def _key_counts(
    df: DataFrame,
    columns: list[str],
    is_null_equal_null: bool,
    by: Sequence[str] = (),
    salt: int = 0,
) -> DataFrame:
    """Key counts ``(by..., X..., cnt)``; a ``by`` column that is also a
    key column is grouped (and carried) once."""
    base = df if is_null_equal_null else non_null(df, columns)
    keys = list(dict.fromkeys([*by, *columns]))
    if salt and salt > 1:
        # explicit salted two-phase aggregation (north-rule technique for
        # hot keys): phase 1 counts per (salt-bucket, key) — a key hammered
        # by one partition's worth of duplicates is split across `salt`
        # reducers — phase 2 merges buckets per key. With Catalyst's
        # map-side partial aggregation this is usually redundant (partials
        # already bound per-key shuffle rows by #partitions); it matters
        # when partial agg is disabled or the key count per task overflows
        # the hash-agg fallback to sort-based aggregation.
        bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in columns]), F.lit(salt)
        ).alias("_salt")
        partial = base.groupBy(bucket, *keys).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return partial.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))
    # by-key spread (see spread_small_input_by): a uniqueness check's keys
    # are mostly distinct, so map-side partial aggregation cannot compress
    # them — on an under-parallel input (single-file scan) the one keyed
    # shuffle parallelizes the whole count and also satisfies a per-``by``
    # rollup after it
    base = spread_small_input_by(base.select(*keys), keys)
    return base.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def ucc_violations(
    df: DataFrame,
    columns: Sequence[str],
    is_null_equal_null: bool = True,
) -> DataFrame:
    """Violating key groups: one row per duplicate key, ``(X..., cnt)``.

    This is the scale path for e.g. the 10^12-row ``doc_id`` uniqueness check:
    partial-agg + AQE-coalesced exchange; output is only the duplicate keys.
    """
    counts = _key_counts(df, as_cols(columns), is_null_equal_null)
    return counts.filter(F.col("cnt") > 1)


def ucc_metrics_df(
    df: DataFrame,
    columns: Sequence[str],
    is_null_equal_null: bool = True,
    error_threshold: float = 0.0,
    by: Sequence[str] = (),
    salt: int = 0,
) -> DataFrame:
    """Verdict DataFrame (no action):
    ``(by..., total_rows, num_violating_clusters, num_violating_rows, error,
    holds)`` — one row per ``by`` group (north-rule per-partition verdicts),
    or a single global row when ``by`` is empty. ``holds`` is int (1/0) for
    cross-engine comparability. ``salt > 1`` forces an explicit salted
    two-phase aggregation (see ``_key_counts``)."""
    by = as_cols(by)
    counts = _key_counts(df, as_cols(columns), is_null_equal_null, by, salt)
    return _ucc_verdict(counts, by, error_threshold).select(*by, *VERDICT_COLS)


def _ucc_verdict(counts: DataFrame, by, error_threshold: float) -> DataFrame:
    """AUCC verdict over ``(X..., cnt)`` key counts (also the incremental
    UCC state): violating = a key seen more than once."""
    return verdict_fold(
        counts, by, "cnt", F.col("cnt") > 1, "pairs", error_threshold
    )


def ucc_verify(
    df: DataFrame,
    columns: Sequence[str],
    is_null_equal_null: bool = True,
    error_threshold: float = 0.0,
    row_id: str | None = None,
    evidence_cap: int = 100,
) -> UCCResult:
    """Full UCC/AUCC verdict in one aggregation job.

    Mirrors UCCVerifier getters (bind_ucc_verification.cpp:20-24): holds,
    #violating clusters, #violating rows, AUCC error; plus the violating
    clusters as a DataFrame over the duplicate keys the verdict checkpointed
    (row-id lists if ``row_id`` given).
    ``error_threshold > 0`` turns this into AUCC verification: holds iff
    ``error <= threshold``.
    """
    columns = as_cols(columns)
    m, evidence = checkpointed_verdict(
        _key_counts(df, columns, is_null_equal_null), "cnt",
        F.col("cnt") > 1, "pairs", error_threshold,
    )
    if row_id is not None:
        evidence = capped_row_ids(
            df, evidence.withColumnRenamed("cnt", "cluster_size"), columns,
            row_id, is_null_equal_null, evidence_cap,
        )
    return UCCResult.from_verdict(
        m,
        violations=evidence,
        columns=tuple(columns),
        details={"error_threshold": error_threshold,
                 "is_null_equal_null": is_null_equal_null},
    )


def ucc_violating_clusters(
    df: DataFrame,
    columns: Sequence[str],
    row_id: str,
    is_null_equal_null: bool = True,
    evidence_cap: int = 100,
) -> DataFrame:
    """Violating clusters as capped, sorted row-id lists:
    ``(X..., cluster_size, row_ids array<row_id>, truncated bool)`` — see
    ``model.capped_row_ids``."""
    cols = as_cols(columns)
    dup = ucc_violations(df, cols, is_null_equal_null)
    return capped_row_ids(
        df, dup.withColumnRenamed("cnt", "cluster_size"), cols, row_id,
        is_null_equal_null, evidence_cap,
    )
