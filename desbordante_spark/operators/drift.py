"""Distribution-drift detection between partitions (KS / chi-square).

North-rule extension (BASELINE.json): histogram sketches per column per
partition snapshot, with two-sample Kolmogorov–Smirnov and chi-square
statistics between a partition and the rest of the table (or a designated
baseline partition). Not present in the reference — built from the same
aggregate machinery as its statistics module (SURVEY.md §2.4 note).

Scale design: the only data-sized job is ONE ``groupBy(partition, bucket)``
count (map-side partial agg; output is |partitions| × |buckets| rows — tiny).
``drift_metrics`` collects that sketch once as Arrow and runs everything
downstream (grid completion, CDFs, KS sup-distance, chi-square terms) on the
driver, vectorized with numpy over the dense count grid: no second Spark
plan, no UDFs, no per-row Python, and a cost independent of row count.

Bucketing modes:
- ``bucket_width`` — fixed-width buckets ``floor(value / width)``; no global
  pass needed; deterministic across engines (used by the DuckDB oracle).
- ``bins`` — equi-width over the observed [min, max] (one tiny extra agg).
- ``discrete`` — the value itself is the bucket (exact for ints/categories).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["histogram_sketch", "drift_metrics", "quantile_drift"]


def _hist_bucket(v: F.Column, spec: float | str) -> F.Column:
    """The one histogram bucket rule: ``'discrete'`` → the value itself,
    a width → fixed-width ``floor(v / width)``; both as strings. Shared by
    ``histogram_sketch``, the mergeable histogram state
    (``profile_state.hist_state_init``) and the streaming sketch, so every
    path buckets a value identically."""
    if spec == "discrete":
        return v.cast("string")
    return F.floor(v / F.lit(float(spec))).cast("string")


def _on_driver(sketch: DataFrame) -> DataFrame:
    """``sketch`` collected ONCE (as Arrow) and rebuilt as a driver-local,
    single-partition frame: later references never touch the data again,
    ``quantile_drift``'s tail over it needs no exchange, and unlike ``cache()``
    nothing is left registered with the session's cache manager, where a
    later plan that matches would silently reuse it. No exception guard: a
    failure here (executor OOM, bad input plan) must surface, not silently
    degrade to re-scans."""
    spark = sketch.sparkSession
    return spark.createDataFrame(sketch.toArrow(), sketch.schema).coalesce(1)


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    bucket_width: float | None = None,
    bins: int | None = None,
    discrete: bool = False,
) -> DataFrame:
    """Per-partition histogram: ``(partition, bucket, cnt)``; null values are
    dropped (they carry no position in the distribution)."""
    v = F.col(value_col)
    base = df.filter(v.isNotNull())
    if discrete or bucket_width is not None:
        bucket = _hist_bucket(v, "discrete" if discrete else bucket_width)
    else:
        bins = bins or 20
        mm = base.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
        lo, hi = float(mm["lo"]), float(mm["hi"])
        width = (hi - lo) / bins or 1.0
        bucket = F.least(
            F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
        ).cast("string")
    return (
        base.groupBy(F.col(partition_col).alias("partition"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def drift_metrics(
    sketch: DataFrame,
    baseline_partition: str | None = None,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Per-partition drift verdict from a histogram sketch.

    Each partition is compared against the baseline distribution —
    ``baseline_partition`` if given, else *all other partitions combined*;
    a NULL partition is a partition like any other. Output: ``(partition,
    n_rows, n_baseline, ks_stat, chi2_stat, drifted)``, ``partition`` of
    the sketch's type; a partition without mass gets no row.

    Two-sample statistics over shared buckets: KS = sup |CDF_p − CDF_b|
    (buckets ordered by ``try_cast(bucket as double)``, NULL last, then by
    the bucket string); chi² = Σ_b (O_pb−E_pb)²/E_pb + (O_bb−E_bb)²/E_bb
    with expected counts proportional to the pooled bucket mass. A
    partition whose baseline has no mass gets NULL statistics and
    ``drifted = 0``; a ``baseline_partition`` no sketch row carries raises
    ``ValueError``.

    Collected once (order key computed by Spark), then numpy over the
    dense count grid: no further Spark job, and bit-equal to the SQL
    formulation (int64 counts, float64 ratios as Spark takes them, chi²
    summed in bucket order).
    """
    in_base = F.lit(False) if baseline_partition is None else F.coalesce(
        F.col("partition") == F.lit(baseline_partition), F.lit(False)
    )
    t = sketch.select(
        "partition",
        "bucket",
        F.coalesce(F.col("cnt").cast("long"), F.lit(0)).alias("cnt"),
        # try_cast, not cast: ANSI mode (on in Spark 4) would raise
        # CAST_INVALID_INPUT on the non-numeric buckets discrete=True makes
        F.coalesce(F.col("bucket").try_cast("double"), F.lit(float("inf")))
        .alias("key"),
        in_base.alias("in_base"),
    ).toArrow()
    parts = t["partition"].combine_chunks().dictionary_encode("encode")
    buckets = t["bucket"].combine_chunks().dictionary_encode("encode")
    cnt, base = t["cnt"].to_numpy(), t["in_base"].to_numpy()
    if baseline_partition is not None and not base.any():
        raise ValueError(
            f"baseline_partition {baseline_partition!r} matches no rows of "
            "the sketch"
        )

    # grid columns in (order key, bucket string) order; a NULL string
    # sorts first, as in Spark
    bi = buckets.indices.to_numpy()
    key = np.empty(len(buckets.dictionary))
    key[bi] = t["key"].to_numpy()
    rank = pc.rank(buckets.dictionary, null_placement="at_start").to_numpy()
    col = np.argsort(np.lexsort((rank, key)))[bi]
    row = parts.indices.to_numpy()
    o1 = np.zeros((len(parts.dictionary), len(key)), np.int64)
    np.add.at(o1, (row, col), cnt)
    base_part = np.zeros(len(o1), bool)
    base_part[row[base]] = True
    if baseline_partition is None:
        o2 = o1.sum(axis=0) - o1
    else:
        o2 = np.broadcast_to(o1[base_part].sum(axis=0), o1.shape)
    n1, n2 = o1.sum(axis=1), o2.sum(axis=1)
    keep = (n1 > 0) & ~base_part
    o1, o2, n1, n2 = o1[keep], o2[keep], n1[keep, None], n2[keep, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        cdf_diff = np.abs(np.cumsum(o1, axis=1) / n1 - np.cumsum(o2, axis=1) / n2)
        pooled = (o1 + o2).astype(np.float64)
        e1 = n1 * pooled / (n1 + n2)
        e2 = n2 * pooled / (n1 + n2)
        d1, d2 = o1 - e1, o2 - e2
        term = np.where(pooled > 0, d1 * d1 / e1 + d2 * d2 / e2, 0.0)
    # |diff| >= 0, so a 0.0 floor only serves the no-bucket grid; cumsum,
    # not sum: Spark adds the terms one by one, numpy's sum pairwise
    ks = cdf_diff.max(axis=1, initial=0.0)
    chi2 = np.cumsum(term, axis=1)[:, -1:].reshape(-1)
    no_base = n2[:, 0] == 0
    out = pa.table({
        "partition": parts.dictionary.take(np.flatnonzero(keep)),
        "n_rows": n1[:, 0],
        "n_baseline": n2[:, 0],
        "ks_stat": pa.array(ks, mask=no_base),
        "chi2_stat": pa.array(chi2, mask=no_base),
        "drifted": ((ks > ks_threshold) & ~no_base).astype(np.int32),
    })
    schema = (
        T.StructType([sketch.schema["partition"]])
        .add("n_rows", "long").add("n_baseline", "long")
        .add("ks_stat", "double").add("chi2_stat", "double")
        .add("drifted", "integer")
    )
    return sketch.sparkSession.createDataFrame(out, schema)


def quantile_drift(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    probs: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    baseline_partition: str | None = None,
    rel_threshold: float = 0.1,
    accuracy: int = 10000,
) -> DataFrame:
    """Quantile-sketch drift for CONTINUOUS columns — the companion to the
    bucketized ``histogram_sketch`` path (north-rule: "histograms … and
    t-digest sketches"; Spark's ``percentile_approx`` is the built-in
    GK/QuantileSummaries mergeable quantile sketch filling the t-digest
    role, so no custom UDAF is needed).

    ONE data-sized job: ``groupBy(partition)`` computes every partition's
    quantile vector (map-side mergeable sketches; output is |partitions|
    tiny rows). The baseline vector is, by default, the cross-partition
    MEDIAN of each quantile — robust: a minority of drifted partitions
    cannot contaminate it, unlike a pooled whole-table baseline, so clean
    partitions score ≈0 even when heavy drift exists elsewhere. With
    ``baseline_partition`` set, that partition's vector is the baseline.
    The drift score is the maximum quantile displacement normalized by the
    baseline's inter-decile span:

        max_q_shift = max_i |q_part[i] - q_base[i]| / (q_base[last] - q_base[first])

    ``drifted`` <=> ``max_q_shift > rel_threshold``. Output: ``(partition,
    n_rows, max_q_shift, drifted)``. Sketch values are engine-specific
    (GK), so this operator is contract-tested in pytest, not against a SQL
    oracle.
    """
    v = F.col(value_col).cast("double")
    ps = [float(p) for p in probs]
    if len(ps) < 2:
        raise ValueError("need at least two probs to normalize the span")
    sk = (
        df.filter(v.isNotNull())
        .groupBy(F.col(partition_col).cast("string").alias("partition"))
        .agg(
            F.percentile_approx(v, ps, accuracy).alias("q"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    # the sketch is tiny and referenced twice (baseline + join) — same
    # collect-once rationale as drift_metrics, but collected from a cached
    # plan: a plain collect lets AQE coalesce the final merge of every
    # input partition's GK summaries into ONE task (4.4 s against 2.5 s at
    # 1M rows in 64 input partitions, 4 cores), while a cached plan keeps
    # the shuffle's parallelism. The cache entry is dropped as soon as the
    # rows are on the driver, so no later plan can match it.
    cached = sk.cache()
    try:
        sk = _on_driver(cached)
    finally:
        cached.unpersist()
    if baseline_partition is not None:
        base = sk.filter(F.col("partition") == baseline_partition).select(
            F.col("q").alias("bq"), F.col("n_rows").alias("n_baseline")
        )
        if base.isEmpty():
            raise ValueError(
                f"baseline_partition {baseline_partition!r} matches no rows "
                f"of {partition_col!r}"
            )
        parts = sk.filter(F.col("partition") != baseline_partition)
    else:
        # per-prob median across partitions (tiny frame: |partitions| x
        # |probs| rows), re-assembled into the baseline vector
        base = (
            sk.select(F.posexplode("q").alias("i", "qv"))
            .groupBy("i")
            .agg(F.median("qv").alias("mq"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("i", "mq"))
                ).alias("pairs"),
            )
            .select(
                F.transform(F.col("pairs"), lambda p: p["mq"]).alias("bq"),
                F.lit(None).cast("long").alias("n_baseline"),
            )
        )
        parts = sk
    span = F.col("bq")[len(ps) - 1] - F.col("bq")[0]
    disp = F.array_max(F.zip_with("q", "bq", lambda a, b: F.abs(a - b)))
    # a constant (zero-span) baseline cannot normalize — but any nonzero
    # displacement off a constant baseline IS drift; +inf shift, not the
    # silent 0/drifted=False a blind division would produce
    shift = (
        F.when(span > 0, disp / span)
        .when(disp > 0, F.lit(float("inf")))
        .otherwise(F.lit(0.0))
    )
    return (
        parts.crossJoin(F.broadcast(base))
        .select(
            "partition",
            "n_rows",
            F.round(shift, 6).alias("max_q_shift"),
            (shift > F.lit(float(rel_threshold))).alias("drifted"),
        )
    )
