"""The reference's COMPLETE metric-verifier golden suite, transplanted
verbatim (src/tests/test_metric_verifier.cpp:127-163
MetricVerifierTestSuite): each case asserts the MFD HOLDS at the given
parameter and (when expected and parameter > 1e-4) FAILS at
parameter − 1e-4 — i.e. the parameter is the exact maximum cluster
diameter, a far sharper check than a loose verdict. Fixtures are the
reference's own TestLong.csv / TestMetric.csv; the reference's calipers
cases run here through the same plan (algorithm choice is an execution
detail Catalyst owns)."""

from __future__ import annotations

import pytest
from conftest import reference_path

from desbordante_spark.operators.mfd import mfd_verify

_DATA = "test_input_data"


@pytest.fixture(scope="module")
def tables(spark):
    out = {}
    for name in ("TestLong", "TestMetric"):
        out[name] = (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            # the reference's typed-column path nulls the NULL literal and
            # empty cells (typed_column_data.h:181-185) before verifying
            .option("nullValue", "NULL")
            .csv(reference_path(f"{_DATA}/{name}.csv"))
            .cache()
        )
    return out


# (table, metric, parameter, lhs_idx, rhs_idx, dist_null_inf, expected, q)
# — argument order and values copied from test_metric_verifier.cpp:129-163
CASES = [
    ("TestLong", "euclidean", 2, [0, 1], [2], False, True, 2),
    ("TestLong", "euclidean", 1, [0], [1], False, True, 2),
    ("TestLong", "euclidean", 4, [1], [0], False, True, 2),
    ("TestLong", "euclidean", 5, [0], [2], False, True, 2),
    ("TestLong", "euclidean", 0, [2], [1], False, True, 2),
    ("TestMetric", "euclidean", 20500, [0], [4], False, True, 2),
    ("TestMetric", "euclidean", 1059, [1], [4], False, True, 2),
    ("TestMetric", "euclidean", 1, [1, 0], [4], False, True, 2),
    ("TestMetric", "euclidean", 4.5724231, [0], [2], False, True, 2),
    ("TestMetric", "euclidean", 7.53, [0], [3], False, True, 2),
    ("TestMetric", "levenshtein", 2, [0], [5], False, True, 2),
    ("TestMetric", "levenshtein", 3, [1], [5], False, True, 2),
    ("TestMetric", "levenshtein", 4, [0], [6], False, True, 2),
    ("TestMetric", "levenshtein", 10, [0], [6], True, False, 2),
    ("TestMetric", "cosine", 0.661938299, [0], [7], False, True, 2),
    ("TestMetric", "cosine", 0.5, [1], [7], False, True, 2),
    ("TestMetric", "cosine", 0.75, [1], [6], False, True, 2),
    ("TestMetric", "cosine", 0.0298575, [1], [5], False, True, 1),
    ("TestMetric", "cosine", 0.661938299, [0], [8], False, True, 3),
    ("TestMetric", "cosine", 0.525658351, [1], [8], False, True, 3),
    ("TestLong", "euclidean", 5.0990195135928, [0], [1, 2], False, True, 2),
    ("TestMetric", "euclidean", 3.081374600094, [0], [9, 10], False, True, 2),
    ("TestMetric", "euclidean", 4.5, [0], [11, 12], False, True, 2),
    ("TestMetric", "euclidean", 4.5, [0], [12, 11], False, True, 2),
    ("TestMetric", "euclidean", 6.0091679956547, [0], [13, 14, 15],
     False, True, 2),
]


@pytest.mark.parametrize(
    "table,metric,parameter,lhs,rhs,null_inf,expected,q", CASES,
    ids=[f"{t}_{m}_{p}_{l}_{r}" for t, m, p, l, r, *_ in CASES],
)
def test_metric_verifier_golden(tables, table, metric, parameter, lhs, rhs,
                                null_inf, expected, q):
    df = tables[table]
    cols = df.columns
    lhs_c = [cols[i] for i in lhs]
    rhs_c = [cols[i] for i in rhs]
    res = mfd_verify(df, lhs_c, rhs_c, parameter=parameter, metric=metric,
                     q=q, dist_from_null_is_infinity=null_inf)
    assert res.holds is expected, f"verdict at parameter={parameter}"
    if expected and parameter - 1e-4 >= 0 and parameter > 0:
        tight = mfd_verify(df, lhs_c, rhs_c, parameter=parameter - 1e-4,
                           metric=metric, q=q,
                           dist_from_null_is_infinity=null_inf)
        assert not tight.holds, "parameter is the exact max diameter"


# --------------------------------------------------------------- PFD errors

# (lhs_idx, rhs_idx, expected_error) — transplanted verbatim from
# src/tests/test_pfdtane.cpp:73-79 PFDTaneTestValidationSuite on TestFD.csv
_PFD_PER_VALUE = [
    (2, 3, 0.0625), (4, 5, 0.333333), (3, 2, 0.291666), (0, 1, 0.75),
    (1, 0, 0.0), (4, 3, 0.099999), (1, 5, 0.416666), (5, 1, 0.0),
]
_PFD_PER_TUPLE = [
    (2, 3, 0.083333), (4, 5, 0.333333), (3, 2, 0.5), (0, 1, 0.75),
    (1, 0, 0.0), (4, 3, 0.083333), (1, 5, 0.416666), (5, 1, 0.0),
]


@pytest.mark.parametrize("measure,cases", [
    ("per_value", _PFD_PER_VALUE),
    ("per_tuple", _PFD_PER_TUPLE),
])
def test_pfd_error_golden(spark, testfd, measure, cases):
    """The reference's PFD error goldens, exact to 1e-5 (the reference's
    own EXPECT_NEAR tolerance)."""
    from desbordante_spark.operators.fd import pfd_metrics_df

    df = testfd.drop("row_id")
    for lhs_i, rhs_i, want in cases:
        row = pfd_metrics_df(
            df, [f"Col{lhs_i}"], [f"Col{rhs_i}"], error_measure=measure
        ).collect()[0]
        assert abs(row["error"] - want) < 1e-5, (lhs_i, rhs_i, measure)
