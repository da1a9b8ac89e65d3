"""Distribution-drift detection between partitions (KS / chi-square).

North-rule extension (BASELINE.json): histogram sketches per column per
partition snapshot, with two-sample Kolmogorov–Smirnov and chi-square
statistics between a partition and the rest of the table (or a designated
baseline partition). Not present in the reference — built from the same
aggregate machinery as its statistics module (SURVEY.md §2.4 note).

Scale design: the only data-sized job is ONE ``groupBy(partition, bucket)``
count (map-side partial agg; output is |partitions| × |buckets| rows — tiny).
Everything downstream (grid completion, CDFs via windows, KS sup-distance,
chi-square terms) runs on that sketch, so the cost is independent of row
count. No UDFs, no driver loops.

Bucketing modes:
- ``bucket_width`` — fixed-width buckets ``floor(value / width)``; no global
  pass needed; deterministic across engines (used by the DuckDB oracle).
- ``bins`` — equi-width over the observed [min, max] (one tiny extra agg).
- ``discrete`` — the value itself is the bucket (exact for ints/categories).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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
    ``baseline_partition`` if given, else *all other partitions combined*.
    Output: ``(partition, n_rows, n_baseline, ks_stat, chi2_stat, drifted)``.

    Two-sample statistics over shared buckets: KS = sup |CDF_p − CDF_b|
    (buckets ordered by numeric value when castable, else lexically);
    chi² = Σ_b (O_pb−E_pb)²/E_pb + (O_bb−E_bb)²/E_bb with expected counts
    proportional to the pooled bucket mass. All arithmetic is exact integer
    ratios → engine-independent.
    """
    # the sketch plan is referenced three times below (bucket domain,
    # per-bucket totals, the densify join); left lazy, each reference
    # re-executes the full data scan. The sketch itself is tiny
    # (|partitions| × |buckets| rows) — cache it and force ONE eager
    # evaluation so drift math never touches the data again. cache beats
    # localCheckpoint here (measured 1.35s vs 1.83s at 200k docs): it skips
    # the RDD serialization round-trip and still survives the three
    # re-references. The entry is small enough that leaving eviction to
    # Spark's LRU is fine. No exception guard: a failure here (executor
    # OOM, bad input plan) must surface, not silently degrade to re-scans.
    counts = sketch.cache()
    counts.count()
    if baseline_partition is not None:
        base_counts = (
            counts.filter(F.col("partition") == baseline_partition)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("bcnt"))
        )
        part_counts = counts.filter(F.col("partition") != baseline_partition)
        # grid: every (partition, bucket-with-any-mass) pair
        grid = (
            part_counts.select("partition").distinct()
            .crossJoin(
                counts.groupBy("bucket").agg(F.sum("cnt").alias("_tb")).select("bucket")
            )
        )
        g = (
            grid.join(part_counts, ["partition", "bucket"], "left")
            .join(base_counts, ["bucket"], "left")
            .select(
                "partition",
                "bucket",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("o1"),
                F.coalesce(F.col("bcnt"), F.lit(0)).alias("o2"),
            )
        )
    else:
        tot = counts.groupBy("bucket").agg(F.sum("cnt").alias("tb"))
        grid = counts.select("partition").distinct().crossJoin(tot)
        g = (
            grid.join(counts, ["partition", "bucket"], "left")
            .select(
                "partition",
                "bucket",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("o1"),
                (F.col("tb") - F.coalesce(F.col("cnt"), F.lit(0))).alias("o2"),
            )
        )

    wp = Window.partitionBy("partition")
    g = g.withColumn("n1", F.sum("o1").over(wp)).withColumn(
        "n2", F.sum("o2").over(wp)
    )
    # order buckets numerically when possible, else lexically — try_cast, not
    # cast: ANSI mode (on in Spark 4) would raise CAST_INVALID_INPUT on the
    # non-numeric buckets discrete=True produces (the DuckDB oracle's
    # TRY_CAST has the same fall-back-to-lexical semantics)
    order_key = F.coalesce(
        F.col("bucket").try_cast("double"),
        F.lit(float("inf")),
    )
    wcum = wp.orderBy(order_key, F.col("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    g = g.withColumn(
        "cdf_diff",
        F.abs(
            F.sum("o1").over(wcum) / F.col("n1")
            - F.sum("o2").over(wcum) / F.col("n2")
        ),
    )
    pooled = (F.col("o1") + F.col("o2")).cast("double")
    e1 = F.col("n1") * pooled / (F.col("n1") + F.col("n2"))
    e2 = F.col("n2") * pooled / (F.col("n1") + F.col("n2"))
    d1 = F.col("o1") - e1
    d2 = F.col("o2") - e2
    term = F.when(
        pooled > 0, d1 * d1 / e1 + d2 * d2 / e2
    ).otherwise(F.lit(0.0))
    g = g.withColumn("chi2_term", term)
    return (
        g.groupBy("partition")
        .agg(
            F.max("n1").cast("long").alias("n_rows"),
            F.max("n2").cast("long").alias("n_baseline"),
            F.max("cdf_diff").alias("ks_stat"),
            F.sum("chi2_term").alias("chi2_stat"),
        )
        .withColumn("drifted", (F.col("ks_stat") > ks_threshold).cast("int"))
        .filter(F.col("n_rows") > 0)
    )


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
    # eager-cache rationale (and same no-guard policy) as drift_metrics
    sk = sk.cache()
    sk.count()
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
