"""Distribution-drift operators (``operators/drift.py``): the histogram
KS / chi² verdict ``drift_metrics``, checked on random sketches against a
DuckDB query shaped like the oracle's, its NULL-partition, empty-baseline
and missing-baseline cases, and the quantile-sketch ``quantile_drift``."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from desbordante_spark.operators.drift import (
    drift_metrics,
    histogram_sketch,
    quantile_drift,
)
from desbordante_spark.plans.runner import Constraint, SuiteRunner

_SKETCH = "partition string, bucket string, cnt long"


def _verdicts(df):
    return {r["partition"]: r.asDict() for r in df.collect()}


def _drift_run(spark, df, ckpt):
    drift = Constraint("n_drift", "drift", {"value_col": "n", "discrete": True})
    return SuiteRunner(spark, ckpt, "s").run(df, [drift]).collect()


# ------------------------------------------------- drift ANSI bucket order

def test_drift_discrete_string_buckets_ansi(spark):
    rows = [("p1", "cat"), ("p1", "dog"), ("p2", "cat"), ("p2", "cat")]
    df = spark.createDataFrame(rows, "part string, animal string")
    sk = histogram_sketch(df, "animal", "part", discrete=True)
    out = drift_metrics(sk, ks_threshold=0.9).collect()  # must not raise
    assert {r["partition"] for r in out} == {"p1", "p2"}


# ------------------------------------------------------------- drift fixes

def test_drift_cache_failure_surfaces(spark):
    """VERDICT item 7 — a failing sketch evaluation must raise at
    drift_metrics() time, not silently degrade to lazy re-scans."""
    bad = spark.createDataFrame(
        [("p", "b", "notanumber")],
        "partition string, bucket string, c string",
    ).select(
        "partition", "bucket", F.col("c").cast("long").alias("cnt")
    )
    with pytest.raises(Exception):
        drift_metrics(bad)  # ANSI cast failure surfaces in the one collect


def test_drift_null_partition_gets_own_row(spark, tmp_path):
    """A NULL partition is compared against the rest of the table like any
    other: its verdict is the one the same rows get under a non-NULL key,
    and a suite run over a NULL ``part_key`` completes with that row."""
    rows = (
        [("a", float(i % 5)) for i in range(40)]
        + [("b", float(i % 3)) for i in range(30)]
        + [(None, float(i % 7)) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "p string, v double")
    named = df.withColumn("p", F.coalesce("p", F.lit("zz")))
    got = _verdicts(drift_metrics(histogram_sketch(df, "v", "p", bucket_width=1.0)))
    want = _verdicts(
        drift_metrics(histogram_sketch(named, "v", "p", bucket_width=1.0))
    )
    want[None] = {**want.pop("zz"), "partition": None}
    assert got == want
    assert (got[None]["n_rows"], got[None]["n_baseline"]) == (20, 70)
    based = _verdicts(drift_metrics(
        histogram_sketch(df, "v", "p", bucket_width=1.0), baseline_partition="a"
    ))
    assert set(based) == {"b", None}
    assert based[None]["n_baseline"] == 40

    docs = df.select(F.col("p").alias("part_key"), F.col("v").cast("int").alias("n"))
    out = _drift_run(spark, docs, str(tmp_path / "ck"))
    assert {r["partition"] for r in out} == {"a", "b", None}


def test_drift_empty_baseline_holds(spark, tmp_path):
    """With one ``part_key`` the rest of the table is empty: the verdict has
    ``n_baseline`` 0, NULL statistics and ``drifted`` 0, and the suite row
    holds with a NULL error. A baseline partition without mass is the same
    case; an empty sketch has no verdict row."""
    df = spark.createDataFrame(
        [("only", i % 4) for i in range(12)], "part_key string, n int"
    )
    [r] = drift_metrics(histogram_sketch(df, "n", "part_key", discrete=True)).collect()
    assert r.asDict() == {
        "partition": "only", "n_rows": 12, "n_baseline": 0,
        "ks_stat": None, "chi2_stat": None, "drifted": 0,
    }
    [m] = _drift_run(spark, df, str(tmp_path / "ck"))
    assert (m["partition"], m["total_rows"], m["num_violating_rows"],
            m["error"], m["holds"]) == ("only", 12, 0, None, 1)
    massless = spark.createDataFrame([("a", "1", 0), ("b", "2", 4)], _SKETCH)
    [b] = drift_metrics(massless, baseline_partition="a").collect()
    assert (b["partition"], b["n_baseline"], b["ks_stat"], b["drifted"]) == (
        "b", 0, None, 0
    )
    assert drift_metrics(spark.createDataFrame([], _SKETCH)).collect() == []


@pytest.mark.parametrize("call", [
    lambda df: quantile_drift(df, "v", "p", baseline_partition="nope"),
    lambda df: drift_metrics(
        histogram_sketch(df, "v", "p", bucket_width=1.0),
        baseline_partition="nope",
    ),
], ids=["quantile_drift", "drift_metrics"])
def test_drift_missing_baseline_raises(spark, call):
    df = spark.createDataFrame([("a", 1.0)], "p string, v double")
    with pytest.raises(ValueError, match="matches no rows"):
        call(df)


# ------------------------------------------------- DuckDB reference (random)

# numeric strings (one with a leading zero, one in exponent form) mixed with
# non-numeric ones, which order after every number, by their string
_BUCKETS = ["-3", "0", "1", "2", "2.5", "007", "10", "1e2", "a", "b", "zz"]

_REST_SQL = """
tot AS (SELECT bucket, sum(cnt) AS tb FROM sk GROUP BY 1),
grid AS (SELECT p.partition, t.bucket, t.tb
         FROM (SELECT DISTINCT partition FROM sk) p CROSS JOIN tot t),
g AS (SELECT grid.partition, grid.bucket,
             coalesce(sk.cnt, 0) AS o1, grid.tb - coalesce(sk.cnt, 0) AS o2
      FROM grid LEFT JOIN sk
        ON sk.partition = grid.partition AND sk.bucket = grid.bucket)"""

_BASELINE_SQL = """
bb AS (SELECT bucket, sum(cnt) AS bcnt FROM sk
       WHERE partition = '{base}' GROUP BY 1),
ps AS (SELECT * FROM sk WHERE partition <> '{base}'),
grid AS (SELECT p.partition, t.bucket
         FROM (SELECT DISTINCT partition FROM ps) p
         CROSS JOIN (SELECT DISTINCT bucket FROM sk) t),
g AS (SELECT grid.partition, grid.bucket,
             coalesce(ps.cnt, 0) AS o1, coalesce(bb.bcnt, 0) AS o2
      FROM grid
      LEFT JOIN ps ON ps.partition = grid.partition AND ps.bucket = grid.bucket
      LEFT JOIN bb ON bb.bucket = grid.bucket)"""

_STATS_SQL = """,
g2 AS (SELECT *, sum(o1) OVER (PARTITION BY partition) AS n1,
                 sum(o2) OVER (PARTITION BY partition) AS n2
       FROM g),
g3 AS (SELECT *,
         CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS e1,
         CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS e2
       FROM g2),
g4 AS (SELECT *,
         abs(CAST(sum(o1) OVER w AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(sum(o2) OVER w AS DOUBLE) / CAST(n2 AS DOUBLE)) AS cdf_diff,
         CASE WHEN o1 + o2 > 0
              THEN (o1 - e1) * (o1 - e1) / e1 + (o2 - e2) * (o2 - e2) / e2
              ELSE 0.0 END AS chi2_term
       FROM g3
       WINDOW w AS (PARTITION BY partition
                    ORDER BY coalesce(TRY_CAST(bucket AS DOUBLE), 'inf'::DOUBLE),
                             bucket
                    ROWS UNBOUNDED PRECEDING))
SELECT partition, CAST(max(n1) AS BIGINT), CAST(max(n2) AS BIGINT),
       max(cdf_diff), sum(chi2_term), CAST(max(cdf_diff) > {thr} AS INT)
FROM g4 GROUP BY partition HAVING max(n1) > 0
"""


def _duckdb_drift(rows, base, thr):
    con = duckdb.connect()
    con.execute("CREATE TABLE sk (partition VARCHAR, bucket VARCHAR, cnt BIGINT)")
    con.executemany("INSERT INTO sk VALUES (?, ?, ?)", rows)
    grid = _REST_SQL if base is None else _BASELINE_SQL.format(base=base)
    return con.execute("WITH" + grid + _STATS_SQL.format(thr=thr)).fetchall()


@st.composite
def _sketches(draw):
    n = draw(st.integers(2, 6))
    rows = []
    for i in range(n):
        hist = draw(st.dictionaries(st.sampled_from(_BUCKETS),
                                    st.integers(1, 50), min_size=1, max_size=6))
        rows += [(f"p{i}", b, c) for b, c in hist.items()]
    base = draw(st.none() | st.integers(0, n - 1).map(lambda i: f"p{i}"))
    return rows, base


@settings(max_examples=25, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(sketch=_sketches())
def test_drift_metrics_matches_duckdb(spark, sketch):
    """Counts, ``drifted`` and ``ks_stat`` equal the SQL formulation's;
    ``chi2_stat`` agrees to 1e-12 (DuckDB's sum adds the terms in its own
    order, so near-zero statistics also get a 1e-12 absolute slack)."""
    rows, base = sketch
    got = sorted(
        tuple(r) for r in drift_metrics(
            spark.createDataFrame(rows, _SKETCH), baseline_partition=base,
            ks_threshold=0.2,
        ).collect()
    )
    want = sorted(_duckdb_drift(rows, base, 0.2))
    assert [g[:4] + g[5:] for g in got] == [w[:4] + w[5:] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[4], w[4], rel_tol=1e-12, abs_tol=1e-12), (g, w)


# ------------------------------------------------------- quantile drift

def test_quantile_drift(spark):
    rnd = random.Random(7)
    rows = []
    for i in range(7):  # 7 clean partitions keep the pooled baseline clean
        rows += [(f"p{i}", rnd.gauss(0, 1)) for _ in range(2000)]
    rows += [("p7", rnd.gauss(3, 1)) for _ in range(2000)]  # shifted
    df = spark.createDataFrame(rows, "part string, v double")
    got = {r["partition"]: r.asDict()
           for r in quantile_drift(df, "v", "part",
                                   rel_threshold=0.2).collect()}
    assert set(got) == {f"p{i}" for i in range(8)}
    assert got["p7"]["drifted"] and got["p7"]["max_q_shift"] > 0.3
    for i in range(7):
        assert not got[f"p{i}"]["drifted"], got[f"p{i}"]
    assert got["p0"]["n_rows"] == 2000
    # explicit baseline partition
    got2 = {r["partition"]: r.asDict()
            for r in quantile_drift(df, "v", "part",
                                    baseline_partition="p0",
                                    rel_threshold=0.2).collect()}
    assert set(got2) == {f"p{i}" for i in range(1, 8)}
    assert got2["p7"]["drifted"] and not got2["p1"]["drifted"]


def test_quantile_drift_zero_span_detects_displacement(spark):
    """ADVICE drift.py:249 — constant baseline: displacement must flag
    drift instead of dividing into a silent max_q_shift=0."""
    rows = (
        [("base", 5.0)] * 30 + [("shifted", 7.0)] * 30 + [("same", 5.0)] * 30
    )
    df = spark.createDataFrame(rows, "p string, v double")
    out = {
        r["partition"]: r
        for r in quantile_drift(
            df, "v", "p", baseline_partition="base"
        ).collect()
    }
    assert out["shifted"]["drifted"] is True
    assert out["shifted"]["max_q_shift"] == float("inf")
    assert out["same"]["drifted"] is False
    assert out["same"]["max_q_shift"] == 0.0
