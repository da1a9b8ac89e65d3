"""Round-7 optimization regression tests.

Covers the optimization-round invariants:
- the cosine MFD path is BOUNDED per group (max_points anchor fallback,
  the round-6 verdict's one scale-killer) and still exact under the cap;
  the euclidean multi-dim fallback is a two-sided 2-approximation;
- ``profile(stats=...)`` subsets aggregate exactly what the full profile
  computes for those stats (and the name table stays in lockstep with the
  struct construction order);
- the scale-adaptive input spread helpers fire only on under-parallel
  inputs and never change results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from desbordante_spark.operators.mfd import mfd_cluster_diameters
from desbordante_spark.operators.stats import _FIELD_NAMES, profile
from desbordante_spark.sources.readers import (
    spread_small_input,
    spread_small_input_by,
)


# ------------------------------------------------- bounded cosine MFD

def _hot_cluster_df(spark, n=300):
    # one LHS cluster with n distinct strings (the degenerate shape that
    # used to build an n x |vocab| dense matrix in a single task)
    rows = [("hot", f"string-{i:06d}-{i * i:08d}") for i in range(n)]
    rows += [("cold", "aaaa"), ("cold", "bbbb")]
    return spark.createDataFrame(rows, "k string, s string")


def test_cosine_hot_cluster_bounded(spark):
    df = _hot_cluster_df(spark, 300)
    d = {
        r["k"]: r
        for r in mfd_cluster_diameters(
            df, ["k"], ["s"], metric="cosine", max_points=50
        ).collect()
    }
    # hot cluster took the anchor fallback: flagged and bounded. 1 - cosine
    # of non-negative q-gram counts is at most 1, so approx <= 2.0; it is
    # not a metric, so approx need not be >= the exact diameter
    assert d["hot"]["approximate"] is True
    assert 0.0 < d["hot"]["diameter"] <= 2.0
    # cold cluster stays exact
    assert d["cold"]["approximate"] is False
    assert d["cold"]["diameter"] == pytest.approx(1.0)


def test_cosine_approx_upper_bounds_exact(spark):
    """The cosine fallback is at most twice the exact diameter: the anchor
    is a member of the cluster, so every anchor distance is a pairwise one.
    1 - cosine has no triangle inequality, so there is no lower bound."""
    df = _hot_cluster_df(spark, 120)
    exact = {
        r["k"]: r["diameter"]
        for r in mfd_cluster_diameters(
            df, ["k"], ["s"], metric="cosine", max_points=1000
        ).collect()
    }
    approx = {
        r["k"]: r["diameter"]
        for r in mfd_cluster_diameters(
            df, ["k"], ["s"], metric="cosine", max_points=30
        ).collect()
    }
    assert approx["hot"] <= 2.0 * exact["hot"] + 1e-9


def test_euclidean_nd_approx_two_sided(spark):
    """Euclidean distance is a metric, so the multi-dim anchor fallback
    brackets the exact diameter: exact <= approx <= 2 * exact."""
    rows = [("hot", float(i % 17), float((i * 7) % 23), float(i % 5))
            for i in range(200)]
    rows += [("cold", 0.0, 0.0, 0.0), ("cold", 3.0, 4.0, 0.0)]
    df = spark.createDataFrame(rows, "k string, x double, y double, z double")

    def diameters(max_points):
        return {
            r["k"]: r
            for r in mfd_cluster_diameters(
                df, ["k"], ["x", "y", "z"], max_points=max_points
            ).collect()
        }

    exact, approx = diameters(1000), diameters(30)
    assert exact["hot"]["approximate"] is False
    assert approx["hot"]["approximate"] is True
    e, a = exact["hot"]["diameter"], approx["hot"]["diameter"]
    assert 0.0 < e <= a + 1e-9
    assert a <= 2.0 * e + 1e-9
    # under the cap the cluster stays exact
    assert approx["cold"]["approximate"] is False
    assert approx["cold"]["diameter"] == pytest.approx(5.0)


# ------------------------------------------------- profile stat subsets

def test_field_names_lockstep(spark):
    df = spark.createDataFrame(
        [(1, "ab c"), (2, None), (3, "")], "n int, s string"
    )
    out = profile(df, ["n", "s"])
    assert list(out.columns) == _FIELD_NAMES


SUBSET = ["count_values", "null_count", "distinct_values", "min_value",
          "max_value", "num_zeros", "num_negatives", "avg"]


def test_profile_subset_matches_full(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (None, ""), (4, "y z")], "n int, s string"
    )
    full = {r["column"]: r for r in profile(df, ["n", "s"]).collect()}
    sub = {
        r["column"]: r
        for r in profile(df, ["n", "s"], stats=SUBSET).collect()
    }
    assert set(sub) == set(full)
    for col, row in sub.items():
        for stat in SUBSET:
            assert row[stat] == full[col][stat], (col, stat)


def test_profile_subset_approx(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    sub = profile(
        df, ["v"], distinct_mode="approx",
        stats=["count_values", "quantiles", "avg"],
    ).collect()[0]
    assert sub["count_values"] == 100
    assert len(sub["quantiles"]) == 3
    assert sub["avg"] == pytest.approx(49.5)


# ------------------------------------------------- input spread helpers

def test_spread_noop_on_parallel_input(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, numPartitions=n)
    assert spread_small_input(df) is df
    assert spread_small_input_by(df, ["id"]) is df


def test_spread_fires_on_single_file(spark, tmp_path):
    path = str(tmp_path / "single")
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    out = spread_small_input(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == target
    # results identical either way
    assert out.agg(F.sum("id")).collect() == df.agg(F.sum("id")).collect()
    keyed = spread_small_input_by(df, ["id"])
    assert keyed.rdd.getNumPartitions() == target
    assert keyed.count() == 1000
