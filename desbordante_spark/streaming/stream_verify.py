"""Structured-Streaming constraint verification.

The reference is strictly batch (its "dynamic" path is batch micro-CRUD,
dynamic_table_data.h:15-85); this module is the engine's streaming extension
for continuously-arriving documents: the same constraint semantics expressed
over ``readStream`` sources.

- ``streaming_duplicate_alerts`` — stateful uniqueness: running count per
  key (update mode); rows with count > 1 are live duplicate alerts. State is
  bounded by watermarking on an event-time column when provided.
- ``streaming_profile`` — windowed per-column stats (count/nulls/min/max/
  avg) with a watermark for late data.
- ``streaming_span_invariant`` — the span-sequence invariant is row-local,
  so it applies to a stream unchanged (stateless projection/filter).

All are plan builders: they take a streaming DataFrame and return a
streaming DataFrame; the caller picks the sink (``writeStream``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from desbordante_spark.operators.drift import _hist_bucket, drift_metrics
from desbordante_spark.operators.span_invariant import span_wellformed_violations

__all__ = [
    "streaming_duplicate_alerts",
    "streaming_profile",
    "streaming_span_invariant",
    "streaming_referential_alerts",
    "streaming_first_seen_dedup",
    "streaming_histogram_sketch",
    "drift_foreach_batch",
]


def streaming_duplicate_alerts(
    stream: DataFrame,
    columns: Sequence[str],
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
    window: str | None = None,
) -> DataFrame:
    """Running duplicate counts per key (update output mode). With
    ``event_time_col`` the state is watermarked (and optionally windowed) so
    it does not grow unboundedly — the streaming analog of the UCC verifier.
    """
    df = stream
    keys = [F.col(c) for c in columns]
    if event_time_col is not None:
        df = df.withWatermark(event_time_col, watermark)
        if window is not None:
            keys = [F.window(F.col(event_time_col), window).alias("window"),
                    *keys]
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def streaming_profile(
    stream: DataFrame,
    value_col: str,
    event_time_col: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed column profile (append mode once the watermark passes)."""
    v = F.col(value_col)
    return (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(F.window(F.col(event_time_col), window).alias("window"))
        .agg(
            F.count(v).alias("count_values"),
            F.sum(v.isNull().cast("long")).alias("null_count"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.avg(v.cast("double")).alias("avg_value"),
            F.approx_count_distinct(v).alias("approx_distinct"),
        )
    )


def streaming_first_seen_dedup(
    stream: DataFrame,
    key_col: str,
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emit each
    key's row only the FIRST time it is seen; later arrivals are emitted as
    duplicate records with the running duplicate count. State per key is one
    counter, dropped when the watermark passes (GroupStateTimeout.EventTimeTimeout)
    — the streaming analog of exact dedup with bounded state.

    Output: ``(key, first_seen int, dup_count long)`` in update mode.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, first_seen int, dup_count long"
    state_schema = "seen long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        # timeout invocation (no live input): free the key's state and emit
        # nothing — re-registering here would both leak state forever and
        # push a phantom duplicate record to the sink
        if state.hasTimedOut:
            state.remove()
            return
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        # GroupState.get is a PROPERTY in PySpark (raises when no state);
        # calling it crashes the first time a key is re-seen across
        # micro-batches (caught by the streaming≡batch equivalence gate)
        (seen,) = state.get if state.exists else (0,)
        first = 1 if seen == 0 else 0
        state.update((seen + n,))
        if state.getCurrentWatermarkMs() > 0:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + 3_600_000
            )
        yield pd.DataFrame(
            {key_col: [key[0]], "first_seen": [first],
             "dup_count": [max(seen + n - 1, 0)]}
        )

    return (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_histogram_sketch(
    stream: DataFrame,
    value_col: str,
    event_time_col: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    bucket_width: float | None = None,
    discrete: bool = False,
) -> DataFrame:
    """Windowed histogram sketch of a streaming column:
    ``(window_start, bucket, cnt)`` — one stateful aggregation, state
    bounded by the watermark; rows append once a window finalizes. The
    streaming half of drift detection: pair with ``drift_foreach_batch``
    (or sink the sketch and run the batch ``drift_metrics``)."""
    v = F.col(value_col)
    width = bucket_width if bucket_width is not None else 1.0
    bucket = _hist_bucket(v, "discrete" if discrete else width)
    return (
        stream.filter(v.isNotNull())
        .withWatermark(event_time_col, watermark)
        .groupBy(
            F.window(F.col(event_time_col), window).alias("win"),
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), "bucket", "cnt")
    )


def drift_foreach_batch(
    baseline: list[tuple[str, int]],
    on_alert,
    ks_threshold: float = 0.1,
):
    """``foreachBatch`` body for streaming drift: each micro-batch of
    FINALIZED sketch windows (append output of
    ``streaming_histogram_sketch``) is compared against a static baseline
    histogram (``[(bucket, cnt), ...]`` — tiny, captured on the driver) with
    the batch KS/chi² machinery; drifted windows are passed to
    ``on_alert(rows)``.

    Windowed KS needs a cumulative scan, which streaming aggregation can't
    chain — foreachBatch is exactly the supported composition point: the
    stateful windowing stays streaming, the per-window verdict runs as a
    (tiny) batch job on finalized windows only.
    """
    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        base = spark.createDataFrame(
            [("__baseline__", b, int(c)) for b, c in baseline],
            "partition string, bucket string, cnt long",
        )
        sketch = batch_df.select(
            F.col("window_start").cast("string").alias("partition"),
            "bucket",
            "cnt",
        ).unionByName(base)
        out = drift_metrics(
            sketch, baseline_partition="__baseline__",
            ks_threshold=ks_threshold,
        )
        alerts = out.filter(F.col("drifted") == 1).collect()
        if alerts:
            on_alert(alerts)

    return fn


def streaming_span_invariant(
    stream: DataFrame, spans_col: str = "spans",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Stateless span-invariant violations on a stream — the batch
    operator itself: it is row-local and keeps no state."""
    return span_wellformed_violations(stream, spans_col, tuple(id_cols))


def streaming_referential_alerts(
    stream: DataFrame,
    fact_cols: Sequence[str],
    dim: DataFrame,
    dim_cols: Sequence[str],
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Live referential-integrity violations: stream rows whose
    ``fact_cols`` values have no match in the STATIC dimension's
    ``dim_cols`` (the north-rule media_ref → media-catalog check on a
    stream). Stream-static left-anti join — the dimension is broadcast, so
    the stream side never shuffles and no state is kept (append mode).
    NULL foreign keys are skipped, matching the batch operator."""
    fact_cols = list(fact_cols)
    dim_cols = list(dim_cols)
    if len(fact_cols) != len(dim_cols):
        raise ValueError(
            f"fact_cols/dim_cols arity mismatch: {len(fact_cols)} vs"
            f" {len(dim_cols)} (a silent zip would check only a key prefix)"
        )
    keyed = dim.select(
        *[F.col(d).alias(f) for f, d in zip(fact_cols, dim_cols)]
    ).distinct()
    out = stream
    for f in fact_cols:
        out = out.filter(F.col(f).isNotNull())
    out = out.join(F.broadcast(keyed), on=fact_cols, how="left_anti")
    cols = [*id_cols, *fact_cols] if id_cols else list(stream.columns)
    return out.select(*cols)
