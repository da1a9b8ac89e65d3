"""Mergeable per-partition column-profile state (snapshot-incremental
profiling).

North-rule surface (BASELINE.json): per-column stats over an Iceberg table
of interleaved documents, resumable per snapshot with per-partition lineage.
``operators/stats.profile`` answers the one-shot question; THIS module keeps
the profile ALIVE across snapshots: every per-partition, per-column
statistic it stores is a mergeable sufficient statistic —

- counts (rows / nulls / empties) and numeric sums merge by ``+``,
- min/max merge by ``min``/``max``,
- distinct counts merge as Apache DataSketches HLL sketches
  (``hll_sketch_agg`` / ``hll_union_agg``). Merging is lossless in the
  sketch's own terms, but the ESTIMATE is not bit-stable across merge
  topologies: a single-stream sketch answers with the HIP estimator
  while a unioned sketch answers with the composite estimator, so an
  incrementally built estimate can differ from a full-recompute estimate
  by a fraction of the sketch's error bound (~1.04/sqrt(2^lgConfigK)
  RSE). Spark's own partial aggregation already makes full-recompute
  estimates layout-dependent in the same way — this is inherent to
  distributed HLL, not to the incremental path,

so an append-only snapshot delta updates the profile by re-aggregating ONLY
the touched partitions (anti-join carries the rest through untouched), the
same shape as ``operators/dynamic.{fd,ucc}_apply_incremental``. The state is
plain columns (binary sketch included) — write it as parquet next to the
SuiteRunner checkpoint and copy-on-write only touched partitions' files.

Value semantics match ``stats.profile`` (reference data_stats.h:117-118):
nulls and empty strings are excluded from value statistics and reported as
``null_count`` / ``empty_count``. Sketch domain is the value cast to string
(one sketch type per state, init and delta consistent).

A companion HISTOGRAM state (``hist_state_init`` / ``hist_apply_incremental``)
carries per-(partition, column, bucket) counts under ``drift.histogram_sketch``'s
fixed-width / discrete bucket rule — exact, so incremental ≡ full bit-for-bit —
and ``drift_from_state`` runs the KS/chi² drift verdict between partition
snapshots from that state alone, with no raw-table re-read.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from desbordante_spark.operators.drift import _hist_bucket, drift_metrics

__all__ = [
    "profile_state_init",
    "profile_state_merge",
    "profile_apply_incremental",
    "profile_from_state",
    "hist_state_init",
    "hist_state_merge",
    "hist_apply_incremental",
    "drift_from_state",
]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

def _merge_aggs() -> list:
    """Merge aggregates (built lazily — Columns need an active session)."""
    return [
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("null_count").cast("long").alias("null_count"),
        F.sum("empty_count").cast("long").alias("empty_count"),
        F.hll_union_agg("hll").alias("hll"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.sum("sum_num").alias("sum_num"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
    ]


def _col_struct(c: str, dtype: T.DataType, lg_config_k: int):
    """Aggregate struct for one column (all fields are aggregates, so the
    whole state builds in ONE grouped scan — same pattern as
    stats._stat_struct)."""
    v = F.col(c)
    is_num = isinstance(dtype, _NUMERIC)
    is_str = isinstance(dtype, T.StringType)
    is_null = v.isNull()
    # null-safe: (NULL == "") is NULL, which would poison the sum on an
    # all-null column
    is_empty = (~is_null & (v == "")) if is_str else F.lit(False)
    vv = F.when(~is_null & ~is_empty, v)
    d = vv.cast("double") if is_num else F.lit(None).cast("double")
    s = vv.cast("string") if not is_num else F.lit(None).cast("string")
    return F.struct(
        F.lit(c).alias("column"),
        F.sum(is_null.cast("long")).alias("null_count"),
        F.sum(is_empty.cast("long")).alias("empty_count"),
        F.hll_sketch_agg(vv.cast("string"), lg_config_k).alias("hll"),
        F.min(d).alias("min_num"),
        F.max(d).alias("max_num"),
        F.sum(d).alias("sum_num"),
        F.min(s).alias("min_str"),
        F.max(s).alias("max_str"),
    )


def profile_state_init(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    by: str = "part_key",
    lg_config_k: int = 12,
) -> DataFrame:
    """Build the per-(partition, column) profile state in one grouped scan.

    ``lg_config_k`` is the HLL precision (DataSketches lgConfigK); every
    state that will ever be merged must share it."""
    cols = [c for c in (columns or df.columns) if c != by]
    schema = {f.name: f.dataType for f in df.schema.fields}
    g = df.groupBy(F.col(by).cast("string").alias("partition")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.array(
            *[_col_struct(c, schema[c], lg_config_k) for c in cols]
        ).alias("_s"),
    )
    s = F.col("s")
    return g.select(
        "partition", "n_rows", F.explode("_s").alias("s")
    ).select(
        "partition",
        s["column"].alias("column"),
        "n_rows",
        s["null_count"].alias("null_count"),
        s["empty_count"].alias("empty_count"),
        s["hll"].alias("hll"),
        s["min_num"].alias("min_num"),
        s["max_num"].alias("max_num"),
        s["sum_num"].alias("sum_num"),
        s["min_str"].alias("min_str"),
        s["max_str"].alias("max_str"),
    )


def profile_state_merge(*states: DataFrame) -> DataFrame:
    """Merge state frames covering the same or overlapping partitions —
    every statistic is mergeable (module docstring), so this is one
    hash aggregation."""
    out = states[0]
    for st in states[1:]:
        out = out.unionByName(st)
    return out.groupBy("partition", "column").agg(*_merge_aggs())


def profile_apply_incremental(
    state: DataFrame,
    delta: DataFrame,
    columns: Sequence[str] | None = None,
    by: str = "part_key",
    lg_config_k: int = 12,
) -> DataFrame:
    """Apply an append-only snapshot delta: partitions the delta does not
    touch pass through by anti-join (their state rows, sketches included,
    are never re-read at scale under partition-pruned parquet); touched
    partitions merge their carried state with the delta's state. Returns
    the new state; equivalence with ``profile_state_init`` over the full
    table is exact for every count/min/max/sum field and within the HLL
    error bound for ``distinct_approx`` (gated in
    tests/test_profile_state.py; see the module docstring on estimator
    topology)."""
    delta_state = profile_state_init(
        delta, columns=columns, by=by, lg_config_k=lg_config_k
    )
    return _merge_touched(state, delta_state, profile_state_merge)


def _merge_touched(state: DataFrame, delta_state: DataFrame, merge) -> DataFrame:
    """Merge a delta's state into ``state`` partition by partition: the
    partitions the delta does not touch pass through by anti-join, touched
    ones are re-merged with ``merge``."""
    touched = delta_state.select("partition").distinct()
    untouched = state.join(F.broadcast(touched), ["partition"], "left_anti")
    merged = merge(
        state.join(F.broadcast(touched), ["partition"], "left_semi"),
        delta_state,
    ).localCheckpoint(eager=True)  # pin the delta-sized slice so snapshot
    # chains do not stack lineage over every prior delta
    return untouched.unionByName(merged)


def hist_state_init(
    df: DataFrame,
    specs: dict[str, float | str],
    by: str = "part_key",
) -> DataFrame:
    """Mergeable histogram state: ``(partition, column, bucket, cnt)`` rows
    for every column in ``specs`` ({column: bucket_width | 'discrete'}),
    built in ONE grouped scan (array + explode, no Expand; null values
    carry no position in a distribution and are dropped, matching
    ``drift.histogram_sketch``). Counts merge by ``+`` — the whole state
    is exact, so snapshot-incremental maintenance is lossless.

    Buckets use ``histogram_sketch``'s own rule, so ``drift_from_state``
    equals ``drift_metrics(histogram_sketch(full_table))`` bit-for-bit for
    a STRING ``by`` column (the state casts the key to string; the sketch
    keeps its type). Its global-min/max ``bins`` mode is absent: those
    edges depend on the whole table, so they are not mergeable."""
    if not specs:
        raise ValueError("specs must name at least one column")
    pairs = [
        F.struct(
            F.lit(c).alias("column"), _hist_bucket(F.col(c), s).alias("bucket")
        )
        for c, s in specs.items()
    ]
    e = df.select(
        F.col(by).cast("string").alias("partition"),
        F.explode(F.array(*pairs)).alias("cb"),
    )
    return (
        e.where(F.col("cb.bucket").isNotNull())
        .groupBy(
            "partition",
            F.col("cb.column").alias("column"),
            F.col("cb.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hist_state_merge(*states: DataFrame) -> DataFrame:
    """Merge histogram states (same ``specs``!): counts sum — one hash
    aggregation, exact."""
    out = states[0]
    for st in states[1:]:
        out = out.unionByName(st)
    return out.groupBy("partition", "column", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def hist_apply_incremental(
    state: DataFrame,
    delta: DataFrame,
    specs: dict[str, float | str],
    by: str = "part_key",
) -> DataFrame:
    """Apply an append-only snapshot delta to a histogram state — the same
    touched-partition shape as ``profile_apply_incremental`` (untouched
    partitions pass through by anti-join and are never re-aggregated).
    Exact: incremental ≡ full recompute bit-for-bit."""
    delta_state = hist_state_init(delta, specs, by=by)
    return _merge_touched(state, delta_state, hist_state_merge)


def drift_from_state(
    state: DataFrame,
    column: str,
    baseline_partition: str | None = None,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Distribution drift (KS / chi²) between partition snapshots computed
    from the maintained histogram state ALONE — no raw-table re-read
    (north rule: drift detection over histogram sketches between partition
    snapshots). The state slice for ``column`` IS a
    ``drift.histogram_sketch`` frame, so the verdict equals
    ``drift_metrics(histogram_sketch(full_table))`` exactly."""
    sk = state.filter(F.col("column") == column).select(
        "partition", "bucket", "cnt"
    )
    return drift_metrics(
        sk, baseline_partition=baseline_partition, ks_threshold=ks_threshold
    )


def profile_from_state(
    state: DataFrame, per_partition: bool = False
) -> DataFrame:
    """Roll the state up into profile rows — globally per column, or per
    (partition, column) for the per-partition lineage view. Distinct counts
    come from the merged sketch (``hll_sketch_estimate``); everything else
    is exact."""
    keys = ["partition", "column"] if per_partition else ["column"]
    agg = state.groupBy(*keys).agg(*_merge_aggs())
    return agg.select(
        *keys,
        F.col("n_rows"),
        F.col("null_count"),
        F.col("empty_count"),
        (F.col("n_rows") - F.col("null_count") - F.col("empty_count"))
        .cast("long").alias("count_values"),
        F.hll_sketch_estimate("hll").alias("distinct_approx"),
        F.col("min_num"),
        F.col("max_num"),
        F.col("sum_num"),
        F.col("min_str"),
        F.col("max_str"),
    )
