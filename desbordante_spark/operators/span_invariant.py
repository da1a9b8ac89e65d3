"""Span-sequence invariant verification for interleaved documents.

BASELINE.json input_hint mandate: per-row invariant — span-sequence equality
(kind, text, media_ref, order preserved exactly). The reference has no nested
types (its closest analog is per-row typed-value equality checks in the
verifiers); this operator is the north-rule extension over the
``spans: array<struct<kind,text,media_ref,offset>>`` column.

Two checks, both pure JVM higher-order-function expressions (zero UDFs, no
explode — evaluated row-local inside whole-stage codegen, so they scale
embarrassingly with no shuffle):

1. ``span_wellformed_violations`` — structural invariant per doc:
   * ``offset`` equals the span's position (0-based, order preserved);
   * ``kind`` ∈ {text, image, audio, video};
   * ``text`` non-empty iff kind = 'text' (else empty string);
   * ``media_ref`` NULL iff kind = 'text'.
   Each violating doc gets a ``reasons array<string>``.

2. ``span_sequence_equality`` — row-level equality of two tables' span
   sequences on (kind, text, media_ref, order): the reference-parity
   round-trip check. Nested struct equality in Spark is field-wise, so a
   null-safe comparison of the (re-ordered) projected arrays is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from desbordante_spark.model import VerificationResult, verdict_fold

__all__ = [
    "span_wellformed_violations",
    "span_invariant_verify",
    "span_invariant_metrics_df",
    "span_sequence_equality",
]

_ALLOWED_KINDS = ("text", "image", "audio", "video")


def _wellformed_reasons(spans_col: str = "spans") -> F.Column:
    spans = F.col(spans_col)
    bad_offset = F.exists(
        F.zip_with(
            spans,
            F.sequence(F.lit(0), F.size(spans) - 1),
            lambda s, i: s["offset"] != i.cast("int"),
        ),
        lambda x: x,
    )
    bad_kind = F.exists(
        spans, lambda s: ~s["kind"].isin(*_ALLOWED_KINDS) | s["kind"].isNull()
    )
    bad_text = F.exists(
        spans,
        lambda s: F.when(s["kind"] == "text", s["text"].isNull() | (s["text"] == ""))
        .otherwise(s["text"].isNull() | (s["text"] != "")),
    )
    bad_ref = F.exists(
        spans,
        lambda s: F.when(s["kind"] == "text", s["media_ref"].isNotNull())
        .otherwise(s["media_ref"].isNull()),
    )
    reasons = F.filter(
        F.array(
            F.when(bad_offset, F.lit("offset_order")),
            F.when(bad_kind, F.lit("bad_kind")),
            F.when(bad_text, F.lit("text_presence")),
            F.when(bad_ref, F.lit("media_ref_presence")),
        ),
        lambda x: x.isNotNull(),
    )
    return reasons


def span_wellformed_violations(
    df: DataFrame, spans_col: str = "spans", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Violating docs: ``(id_cols..., reasons array<string>)``."""
    reasons = _wellformed_reasons(spans_col)
    return (
        df.withColumn("reasons", reasons)
        .filter(F.size("reasons") > 0)
        .select(*id_cols, "reasons")
    )


def _span_verdict(df: DataFrame, spans_col: str, by) -> DataFrame:
    """The fold with every doc its own one-row cluster, violating when it
    breaks the invariant (flag projected once, not re-evaluated per
    aggregate)."""
    bad = F.size(_wellformed_reasons(spans_col)) > 0
    docs = df.select(*by, bad.alias("_bad"))
    return verdict_fold(docs, by, F.lit(1), F.col("_bad"), "clusters")


def span_invariant_metrics_df(
    df: DataFrame,
    spans_col: str = "spans",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Verdict DataFrame (no action): ``(by..., total_rows,
    num_violating_rows, error, holds)`` per ``by`` group (per-partition
    verdicts), global single row when empty."""
    by = list(by)
    return _span_verdict(df, spans_col, by).select(
        *by, "total_rows", "num_violating_rows", "error", "holds"
    )


def span_invariant_verify(
    df: DataFrame, spans_col: str = "spans", id_cols: tuple[str, ...] = ("doc_id",)
) -> VerificationResult:
    """Verdict over the structural invariant: error = violating-row fraction."""
    m = _span_verdict(df, spans_col, []).collect()[0]
    return VerificationResult.from_verdict(
        m, violations=span_wellformed_violations(df, spans_col, id_cols)
    )


def _canon(spans_col: F.Column) -> F.Column:
    # project to the invariant fields, ordered by offset (order is part of
    # the contract; arrays are compared element-wise)
    return F.transform(
        F.array_sort(
            F.transform(
                spans_col,
                lambda s: F.struct(
                    s["offset"].alias("offset"),
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                ),
            )
        ),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def span_sequence_equality(
    df_a: DataFrame,
    df_b: DataFrame,
    key: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Docs whose span sequences differ between two tables (or are missing on
    one side): ``(doc_id, status)`` with status ∈ mismatch|only_left|only_right.

    Join strategy: plain shuffled hash/SMJ equi-join on the key — both sides
    are document-scale; Catalyst/AQE picks the physical join and handles
    skew. Canonical span ordering by ``offset`` before comparison.
    """
    a = df_a.select(F.col(key), _canon(F.col(spans_col)).alias("sa"))
    b = df_b.select(F.col(key), _canon(F.col(spans_col)).alias("sb"))
    j = a.join(b, key, "full_outer")
    status = (
        F.when(F.col("sa").isNull(), F.lit("only_right"))
        .when(F.col("sb").isNull(), F.lit("only_left"))
        .when(~F.col("sa").eqNullSafe(F.col("sb")), F.lit("mismatch"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(key, "status")
    )
