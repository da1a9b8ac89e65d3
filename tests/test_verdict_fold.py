"""The shared verdict fold (``model.verdict_fold``): Spark job counts per
verify call, and regressions for overlapping column lists and the exact
``is_categorical`` profile path."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from desbordante_spark.model import verdict_fold
from desbordante_spark.operators.fd import fd_verify
from desbordante_spark.operators.ind import ind_verify
from desbordante_spark.operators.mfd import mfd_verify
from desbordante_spark.operators.od import od_verify
from desbordante_spark.operators.span_invariant import span_invariant_verify
from desbordante_spark.operators.ucc import ucc_metrics_df, ucc_verify
from desbordante_spark.sources.interleaved import generate_documents

ROWS = [(i, i % 7, i % 3, float(i % 11), f"p{i % 2}") for i in range(200)]
SCHEMA = "id long, a int, b int, x double, part string"


@pytest.fixture(scope="module")
def single_file(spark, tmp_path_factory):
    """A one-file, one-row-group parquet table: the under-parallel input
    shape on which the by-key spread fires."""
    path = str(tmp_path_factory.mktemp("fold") / "t.parquet")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_verify_job_counts(spark, single_file):
    """Each verify launches exactly the jobs it did before its verdict went
    through the shared fold: the fold is a plan builder and adds no
    action. The violations frames stay lazy and launch nothing."""
    df = single_file
    docs = generate_documents(spark, 200, dup_pairs=1, n_media=50)
    calls = {
        "ucc": lambda: ucc_verify(df, ["a", "b"]),
        "fd": lambda: fd_verify(df, ["a"], ["b"]),
        "ind": lambda: ind_verify(df, ["a"], df.filter("b = 0"), ["a"]),
        "mfd": lambda: mfd_verify(df, ["a"], ["x"], 3.0),
        "od": lambda: od_verify(df, "id", "x", ["a"]),
        "span": lambda: span_invariant_verify(docs),
    }
    got = {k: _jobs(spark, f"fold-jobs-{k}", fn) for k, fn in calls.items()}
    # the counts of the hand-written rollups the fold replaced (AQE runs
    # one job per query stage)
    assert got == {"ucc": 3, "fd": 4, "ind": 5, "mfd": 3, "od": 3, "span": 2}
    fold = lambda: verdict_fold(  # noqa: E731
        df, ["part"], "a", F.col("b") > 0, "pairs"
    )
    assert _jobs(spark, "fold-jobs-plan-only", fold) == 0


def _duplicated_projections(plan: str) -> list[str]:
    """Project nodes of a plan string that list one attribute twice."""
    out = []
    for m in re.finditer(r"Project \[([^\]]*)\]", plan):
        items = [s.strip() for s in m.group(1).split(",")]
        if len(items) != len(set(items)):
            out.append(m.group(0))
    return out


def test_ucc_by_overlapping_columns(single_file):
    """A ``by`` column that is also a key column is carried once through
    the spread exchange, and the per-group verdict is that of the key
    columns alone."""
    df = single_file
    m = ucc_metrics_df(df, ["part", "a"], by=["part"])
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert _duplicated_projections(plan) == []
    got = sorted(map(tuple, m.collect()))
    want = sorted(map(tuple, ucc_metrics_df(df, ["a"], by=["part"]).collect()))
    assert got == want


def test_od_context_overlapping_lhs(single_file, tmp_path):
    """A context column that is also an LHS column appears once in the
    evidence, so the evidence can be written out."""
    df = single_file
    res = od_verify(df, "a", "x", ["a"])
    cols = res.violations.columns
    assert len(cols) == len(set(cols))
    res.violations.write.parquet(str(tmp_path / "od_evidence"))
    # each LHS group is its own context, so no swap can exist
    assert res.holds and res.total_rows == 7


def test_profile_is_categorical_without_distinct_values(spark):
    """Exact mode computes ``is_categorical`` even when the caller does
    not also ask for ``distinct_values``."""
    from desbordante_spark.operators.stats import profile

    df = spark.createDataFrame(ROWS, SCHEMA)
    out = {
        r["column"]: r["is_categorical"]
        for r in profile(df, ["a", "id"], stats=["is_categorical"],
                         categorical_threshold=10).collect()
    }
    assert out == {"a": True, "id": False}
