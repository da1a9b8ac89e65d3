"""Column statistics profiler (DataStats equivalent).

Reference: one algorithm computes ~30 per-column statistics
(/root/reference/src/core/algorithms/statistics/data_stats.{h,cpp}, result
struct statistic.h:30-43, Python surface bind_statistics.cpp:66-168),
parallelized column-wise with a thread pool (data_stats.cpp:917-924).

Semantics preserved:
- Nulls AND empty strings are excluded from value statistics
  (data_stats.h:117-118 DeleteNullAndEmpties; kNull vs kEmpty duality,
  model/types/builtin.h:34-40). ``null_count`` / ``empty_count`` report them.
- ``is_categorical`` = distinct <= threshold heuristic (data_stats.cpp:911-913).
- Word statistics split on whitespace (data_stats.h:38-40); entirely-upper /
  entirely-lowercase word counts (data_stats.h:33-36).

Spark-first design: the reference profiles column-by-column over an in-memory
typed table with one thread per column. Here ALL columns are profiled in a
SINGLE scan — one wide aggregation row (Catalyst computes every aggregate in
one whole-stage-codegen pass, partial agg map-side), reshaped to one row per
column via an inline explode. ``distinct_mode='approx'`` switches
countDistinct to the HLL++ sketch (approx_count_distinct) — mandatory at
10^12-row scale per the north rule; quantiles similarly switch between exact
``percentile`` and ``percentile_approx``.

Heavy value-enumeration stats (word/char vocabularies, top-k) are separate
explode-based operators, mirroring the reference's on-demand getters
(data_stats.h:136,162-164).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "profile",
    "word_stats",
    "words_set",
    "top_k_words",
    "top_k_chars",
    "char_vocab",
    "table_stats",
    "mean_abs_deviation",
    "median_abs_deviation",
    "central_moment",
    "standardized_moment",
]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_LETTERS = _UPPER + _LOWER


def _stat_struct(c: str, dtype: T.DataType, approx_distinct: bool,
                 categorical_threshold: int, quantile_accuracy: int,
                 stats: Sequence[str] | None = None):
    v = F.col(c)
    is_num = isinstance(dtype, _NUMERIC)
    is_str = isinstance(dtype, T.StringType)
    is_null = v.isNull()
    is_empty = (v == "") if is_str else F.lit(False)
    vv = F.when(~is_null & ~is_empty, v)  # valid values, else SQL NULL
    d = vv.cast("double") if is_num else F.lit(None).cast("double")
    ln = F.length(vv) if is_str else F.lit(None).cast("int")

    # exact distincts come from the separate unpivot job (see profile);
    # multiple count_distinct aggregates in one pass would force a
    # per-aggregate Expand of the input (measured 10-40x slower)
    distinct = F.approx_count_distinct(vv) if approx_distinct else F.lit(None)

    if is_num:
        quantiles = F.percentile_approx(
            d, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            F.lit(quantile_accuracy),
        )
    else:
        quantiles = F.lit(None).cast("array<double>")

    words = (
        F.split(F.trim(vv), r"\s+") if is_str else F.lit(None).cast("array<string>")
    )
    n_words = F.when(F.trim(vv) == "", 0).otherwise(F.size(words)) if is_str else F.lit(None).cast("int")

    fields = [
        F.lit(c).alias("column"),
        F.lit(dtype.simpleString()).alias("dtype"),
        F.count(vv).cast("long").alias("count_values"),
        F.sum(is_null.cast("long")).alias("null_count"),
        F.sum(is_empty.cast("long")).alias("empty_count"),
        distinct.cast("long").alias("distinct_values"),
        (distinct <= categorical_threshold).alias("is_categorical"),
        F.min(vv).cast("string").alias("min_value"),
        F.max(vv).cast("string").alias("max_value"),
        # numeric block (data_stats.h:59,78-112)
        F.sum(d).alias("sum"),
        F.avg(d).alias("avg"),
        F.stddev_samp(d).alias("stddev"),
        F.skewness(d).alias("skewness"),
        F.kurtosis(d).alias("kurtosis"),
        F.sum(d * d).alias("sum_of_squares"),
        F.exp(
            F.sum(F.when(d > 0, F.log(d))) / F.sum(F.when(d > 0, 1))
        ).alias("geometric_mean"),
        (
            F.sum(F.when(d == 0, 1).otherwise(0)) if is_num
            else F.lit(None)
        ).cast("long").alias("num_zeros"),
        (
            F.sum(F.when(d < 0, 1).otherwise(0)) if is_num
            else F.lit(None)
        ).cast("long").alias("num_negatives"),
        quantiles.alias("quantiles"),
        # string block (data_stats.h:38-53)
        F.sum(ln.cast("long")).alias("num_chars"),
        F.avg(ln.cast("double")).alias("avg_chars"),
        F.min(ln).cast("long").alias("min_chars"),
        F.max(ln).cast("long").alias("max_chars"),
        F.sum(n_words.cast("long")).alias("num_words"),
        F.min(n_words).cast("long").alias("min_words"),
        F.max(n_words).cast("long").alias("max_words"),
        (
            F.sum(
                F.size(
                    F.filter(words, lambda w: (w == F.upper(w)) & (w != F.lower(w)))
                ).cast("long")
            )
            if is_str
            else F.lit(None).cast("long")
        ).alias("num_entirely_uppercase_words"),
        (
            F.sum(
                F.size(
                    F.filter(words, lambda w: (w == F.lower(w)) & (w != F.upper(w)))
                ).cast("long")
            )
            if is_str
            else F.lit(None).cast("long")
        ).alias("num_entirely_lowercase_words"),
        # charset counts via translate() (delete the charset, diff lengths) —
        # a table lookup per char instead of a regex engine pass; ~3x cheaper
        # on the wide-profile scan
        (
            F.sum(F.length(F.translate(vv, _LETTERS, "")).cast("long"))
            if is_str
            else F.lit(None).cast("long")
        ).alias("num_non_letter_chars"),
        (
            F.sum(
                (ln - F.length(F.translate(vv, "0123456789", ""))).cast("long")
            )
            if is_str
            else F.lit(None).cast("long")
        ).alias("num_digit_chars"),
        # uppercase/lowercase char counts (data_stats.h:142-144; the
        # reference's std::isupper/islower are ASCII — same class here)
        (
            F.sum((ln - F.length(F.translate(vv, _UPPER, ""))).cast("long"))
            if is_str
            else F.lit(None).cast("long")
        ).alias("num_uppercase_chars"),
        (
            F.sum((ln - F.length(F.translate(vv, _LOWER, ""))).cast("long"))
            if is_str
            else F.lit(None).cast("long")
        ).alias("num_lowercase_chars"),
    ]
    if stats is not None:
        # aggregate subset: the caller only consumes some stats, and Catalyst
        # cannot prune unused aggregates through the array+explode reshape —
        # an unselected percentile/skewness sketch would still be computed on
        # every row. Keep the identity fields; filter the rest by name.
        keep = {"column", "dtype"} | set(stats)
        fields = [f for f, name in zip(fields, _FIELD_NAMES) if name in keep]
    return F.struct(*fields)


# alias names of the _stat_struct fields, in construction order (kept in
# lockstep with the list above; verified by test)
_FIELD_NAMES = [
    "column", "dtype", "count_values", "null_count", "empty_count",
    "distinct_values", "is_categorical", "min_value", "max_value", "sum",
    "avg", "stddev", "skewness", "kurtosis", "sum_of_squares",
    "geometric_mean", "num_zeros", "num_negatives", "quantiles", "num_chars",
    "avg_chars", "min_chars", "max_chars", "num_words", "min_words",
    "max_words", "num_entirely_uppercase_words",
    "num_entirely_lowercase_words", "num_non_letter_chars", "num_digit_chars",
    "num_uppercase_chars", "num_lowercase_chars",
]


def profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    distinct_mode: str = "exact",
    categorical_threshold: int = 50,
    quantile_accuracy: int = 10000,
    by: Sequence[str] = (),
    stats: Sequence[str] | None = None,
) -> DataFrame:
    """Profile columns in one scan → long-format DataFrame, one row per
    column (per ``by`` group when given — the north-rule per-partition
    profile rows).

    ``distinct_mode``: 'exact' (one unpivoted count-distinct job) or 'approx'
    (HLL++ sketch) — use 'approx' at scale; anything else raises. Quantiles
    always use the percentile_approx sketch (mergeable, single-pass; accuracy
    knob trades memory for error).
    ``stats``: optional subset of stat names to compute (default all) — the
    explode reshape hides unused aggregates from Catalyst's pruning, so a
    caller that consumes only a few stats should name them here.
    """
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(
            f"distinct_mode must be 'exact' or 'approx', got {distinct_mode!r}"
        )
    by = list(by)
    cols = list(columns) if columns else [c for c in df.columns if c not in by]
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    structs = [
        _stat_struct(c, dtypes[c], distinct_mode == "approx",
                     categorical_threshold, quantile_accuracy, stats)
        for c in cols
    ]
    wide = df.groupBy(*by).agg(F.array(*structs).alias("stats"))
    out = wide.select(*by, F.explode("stats").alias("s")).select(*by, "s.*")
    if distinct_mode == "approx":
        return out
    # is_categorical is derived from the exact distinct count as well
    if stats is not None and not {"distinct_values", "is_categorical"} & set(stats):
        return out
    # exact distinct counts via ONE unpivoted single-distinct aggregation —
    # no Expand blowup, one shuffle of (column, value) pairs
    d = _exact_distincts(df, cols, dtypes, by).alias("d")
    o = out.alias("o")
    cond = [F.col("o.column") == F.col("d.column")]
    for b in by:
        cond.append(F.col(f"o.{b}").eqNullSafe(F.col(f"d.{b}")))
    keep = [f"o.{b}" for b in by] + [
        f"o.{c}" for c in out.columns
        if c not in by and c not in ("distinct_values", "is_categorical")
    ]
    dv = F.coalesce(F.col("d.distinct_values"), F.lit(0)).cast("long")
    joined = o.join(d, cond, "left").select(
        *[F.col(k).alias(k.split(".", 1)[1]) for k in keep],
        dv.alias("distinct_values"),
        (dv <= categorical_threshold).alias("is_categorical"),
    )
    # restore the documented column order
    return joined.select(*by, *[c for c in out.columns if c not in by])


def _exact_distincts(df, cols, dtypes, by):
    pairs = []
    for c in cols:
        v = F.col(c)
        valid = v.isNotNull()
        if isinstance(dtypes[c], T.StringType):
            valid = valid & (v != "")
        pairs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.when(valid, v.cast("string")).alias("v"),
            )
        )
    exploded = df.select(
        *by, F.explode(F.array(*pairs)).alias("p")
    ).select(*by, "p.column", "p.v").filter(F.col("v").isNotNull())
    return exploded.groupBy(*by, "column").agg(
        F.count_distinct("v").alias("distinct_values")
    )


def word_stats(df: DataFrame, column: str) -> DataFrame:
    """Distinct-word summary for one string column: one row
    ``(distinct_words, total_words)`` over whitespace-split words of non-null,
    non-empty values (data_stats.h:38-40)."""
    words = _exploded_words(df, column)
    return words.agg(
        F.count_distinct("word").cast("long").alias("distinct_words"),
        F.count("word").cast("long").alias("total_words"),
    )


def words_set(df: DataFrame, column: str) -> DataFrame:
    """All distinct words of the column, one per row (``GetWords``,
    data_stats.h:149-150 — a std::set there; here a distinct DataFrame, the
    scale-safe representation). Sorted for determinism."""
    return _exploded_words(df, column).distinct().orderBy("word")


def _exploded_words(df: DataFrame, column: str) -> DataFrame:
    # no input spread (measured): the per-word partial count compresses to
    # vocabulary size map-side, so the word-count shuffle is tiny either way
    # and an extra text exchange costs more than the serial split it
    # parallelizes (0.3s -> 0.8s on the bench table)
    v = F.col(column)
    valid = v.isNotNull() & (F.trim(v) != "")
    return (
        df.filter(valid)
        .select(F.explode(F.split(F.trim(v), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )


def top_k_words(df: DataFrame, column: str, k: int = 10) -> DataFrame:
    """Top-k most frequent words (data_stats.h:162-164). Deterministic
    tie-break: frequency desc, then word asc.

    Scale shape: ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject — each partition keeps its own top-k and only
    k rows per partition reach the driver-side merge — so no reducer
    ever holds the full vocabulary. The rank window after it runs over
    exactly k rows (a single tiny partition is the right plan there)."""
    counts = _exploded_words(df, column).groupBy("word").agg(
        F.count(F.lit(1)).alias("freq")
    )
    order = [F.col("freq").desc(), F.col("word").asc()]
    top = counts.orderBy(*order).limit(k)
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("word", "freq", "rank")
    )


def top_k_chars(df: DataFrame, column: str, k: int = 10) -> DataFrame:
    """Top-k most frequent characters of non-null, non-empty values."""
    v = F.col(column)
    chars = (
        df.filter(v.isNotNull() & (v != ""))
        .select(F.explode(F.split(v, "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    counts = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("freq"))
    order = [F.col("freq").desc(), F.col("ch").asc()]
    # TakeOrderedAndProject (partial per-partition top-k) — see top_k_words
    top = counts.orderBy(*order).limit(k)
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("ch", "freq", "rank")
    )


def char_vocab(df: DataFrame, column: str) -> list[str]:
    """Sorted distinct characters (data_stats.h:136). Driver-side small."""
    v = F.col(column)
    rows = (
        df.filter(v.isNotNull() & (v != ""))
        .select(F.explode(F.split(v, "")).alias("ch"))
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    )
    return sorted(r["ch"] for r in rows)


def mean_abs_deviation(df: DataFrame, column: str) -> float:
    """Mean absolute deviation (GetMeanAD, data_stats reference) — two-pass:
    mean first, then ``avg(|x − mean|)``."""
    v = F.col(column).cast("double")
    mean = df.agg(F.avg(v)).collect()[0][0]
    if mean is None:
        return float("nan")
    return float(
        df.agg(F.avg(F.abs(v - F.lit(float(mean))))).collect()[0][0]
    )


def central_moment(
    df: DataFrame, column: str, k: int, bessel_correction: bool = False
) -> float:
    """k-th central moment ``Σ(x−μ)^k / n`` (``n−1`` with Bessel) —
    GetCentralMomentOfDist / CalculateCentralMoment
    (data_stats.cpp:90-134). Two-pass like the reference: mean first, then
    one aggregation of the powered differences."""
    v = F.col(column).cast("double")
    row = df.agg(F.avg(v).alias("m"),
                 F.count(v).cast("long").alias("n")).collect()[0]
    if row["m"] is None or row["n"] <= (1 if bessel_correction else 0):
        return float("nan")
    denom = row["n"] - 1 if bessel_correction else row["n"]
    s = df.agg(
        F.sum(F.pow(v - F.lit(float(row["m"])), F.lit(int(k))))
    ).collect()[0][0]
    return float(s) / denom


def standardized_moment(df: DataFrame, column: str, k: int) -> float:
    """k-th standardized central moment ``m_k / σ^k`` with σ the CORRECTED
    (Bessel) standard deviation — GetStandardizedCentralMomentOfDist
    (data_stats.cpp:136-146); ``k=3`` is the reference's skewness, ``k=4``
    its kurtosis before the −3 excess correction."""
    std = central_moment(df, column, 2, bessel_correction=True) ** 0.5
    if std == 0 or std != std:
        return float("nan")
    return central_moment(df, column, k) / std**k


def median_abs_deviation(
    df: DataFrame, column: str, accuracy: int = 10000
) -> float:
    """Median absolute deviation (GetMedianAD) — two percentile_approx
    passes (median of ``|x − median|``)."""
    v = F.col(column).cast("double")
    med = df.agg(F.percentile_approx(v, 0.5, accuracy)).collect()[0][0]
    if med is None:
        return float("nan")
    return float(
        df.agg(
            F.percentile_approx(F.abs(v - F.lit(float(med))), 0.5, accuracy)
        ).collect()[0][0]
    )


def table_stats(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Table-level summary derived from the per-column profile
    (data_stats.cpp:937-958): per column, whether it has nulls, is all
    null/empty, or is all-unique."""
    p = profile(df, columns)
    total = df.count()
    return p.select(
        "column",
        (F.col("null_count") > 0).alias("has_nulls"),
        (F.col("count_values") == 0).alias("all_null_or_empty"),
        (
            (F.col("distinct_values") == F.col("count_values"))
            & (F.col("count_values") == F.lit(total))
        ).alias("all_unique"),
    )
