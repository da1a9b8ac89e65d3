"""The reference's dynamic-FD-verifier golden suite, transplanted verbatim
(src/tests/test_dynamic_fd_verifier.cpp:101-138): exact error /
error-cluster / error-row values on TestDynamicInit.csv, before and after
CRUD batches (insert table, update-by-id table, delete-id sets), through
the desbordante-compatible facade."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import reference_path

_DYN = "test_input_data/dynamic_fd"


def _init():
    return (reference_path(f"{_DYN}/TestDynamicInit.csv"), ",", True)


def _table(name):
    return pd.read_csv(reference_path(f"{_DYN}/{name}.csv"), dtype=str,
                       keep_default_na=False)


def _insert():
    return _table("TestDynamicInsert")


def _update():
    t = _table("TestDynamicUpdate")
    t.index = t["_id"].astype(int)
    return t.drop(columns=["_id"])


# (lhs_idx, rhs_idx, clusters, rows, error) — verbatim from
# DynamicFDVerifierTestSuite (InitializationTest, kTestDynamicFDInit rows)
INIT_CASES = [
    ([0, 1, 2, 3, 4], [5], 0, 0, 0.0),
    ([1, 2], [0, 3], 1, 2, 2.0 / 132),
    ([2, 4], [0, 1, 3, 5], 0, 0, 0.0),
    ([1], [2, 3], 4, 12, 18.0 / 132),
    ([1, 4], [2, 3, 5], 3, 8, 10.0 / 132),
    ([0, 1], [1, 4], 2, 6, 8.0 / 132),
]

# (lhs, rhs, clusters, rows, error, insert?, update?, delete?) — verbatim
# from the modify suite (test_dynamic_fd_verifier.cpp:131-138)
CRUD_CASES = [
    ([0, 1, 2, 3, 4], [5], 1, 2, 1.0 / 105, True, False, None),
    ([4], [3], 0, 0, 0.0, False, True, None),
    ([1, 2], [0, 3], 0, 0, 0.0, False, False, {1, 6, 3}),
    ([2, 4], [0, 1, 3, 5], 2, 4, 2.0 / 105, True, True, None),
    ([1], [2, 3], 5, 12, 7.0 / 66, True, False, {1, 6, 3}),
    ([1, 4], [2, 3, 5], 2, 5, 1.0 / 12, False, True, {1, 6, 3}),
]


@pytest.mark.parametrize("lhs,rhs,clusters,rows,error", INIT_CASES)
def test_dynamic_fd_init_golden(spark, lhs, rhs, clusters, rows, error):
    import desbordante_spark.compat as desbordante

    v = desbordante.dynamic_fd_verification.algorithms.Default()
    v.load_data(table=_init(), lhs_indices=lhs, rhs_indices=rhs)
    assert v.fd_holds() is (clusters == 0)
    assert v.get_num_error_clusters() == clusters
    assert v.get_num_error_rows() == rows
    assert abs(v.get_error() - error) < 1e-12


@pytest.mark.parametrize("lhs,rhs,clusters,rows,error,ins,upd,dele",
                         CRUD_CASES)
def test_dynamic_fd_crud_golden(spark, lhs, rhs, clusters, rows, error,
                                ins, upd, dele):
    import desbordante_spark.compat as desbordante

    v = desbordante.dynamic_fd_verification.algorithms.Default()
    v.load_data(table=_init(), lhs_indices=lhs, rhs_indices=rhs)
    v.execute(insert=_insert() if ins else None,
              update=_update() if upd else None,
              delete=dele)
    assert v.get_num_error_clusters() == clusters, "clusters"
    assert v.get_num_error_rows() == rows, "rows"
    assert abs(v.get_error() - error) < 1e-12
