"""IND/AIND (referential) golden tests — F6-style two-table fixture.
AIND error = missing distinct LHS fraction (ind/spider/attribute.cpp:10-21)."""

from __future__ import annotations

import pytest
from conftest import reference_path

from desbordante_spark.operators.ind import (
    ind_metrics_df, ind_missing_values, ind_verify,
)


@pytest.fixture(scope="module")
def tables(spark):
    orders_like = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "zz"), (6, "zz"), (7, None)],
        "id long, ref string",
    )
    catalog = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "key string, payload long"
    )
    return orders_like, catalog


def test_ind_violated(tables):
    lhs_df, rhs_df = tables
    res = ind_verify(lhs_df, ["ref"], rhs_df, ["key"])
    assert not res.holds
    # distinct non-null refs: a,b,c,zz -> 1 missing of 4
    assert res.total_rows == 4
    assert res.num_violating_clusters == 1
    assert res.num_violating_rows == 2  # two rows reference 'zz'
    assert res.error == pytest.approx(0.25)
    miss = res.violations.collect()
    assert len(miss) == 1 and miss[0]["ref"] == "zz" and miss[0]["ref_count"] == 2


def test_aind_threshold(tables):
    lhs_df, rhs_df = tables
    assert ind_verify(lhs_df, ["ref"], rhs_df, ["key"], error_threshold=0.3).holds
    assert not ind_verify(lhs_df, ["ref"], rhs_df, ["key"], error_threshold=0.2).holds


def test_ind_holds(tables):
    lhs_df, rhs_df = tables
    ok = lhs_df.filter("ref in ('a','b','c')")
    res = ind_verify(ok, ["ref"], rhs_df, ["key"])
    assert res.holds and res.error == 0.0


def test_ind_self_derived_rhs_swapped_columns(spark):
    """An RHS derived from the LHS frame, its columns swapped: the join is
    resolved through aliases, so both sides stay unambiguous."""
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (1, 1), (4, 5)], "a int, b int"
    )
    rhs = df.filter("a <= 2")
    # RHS (b, a) domain: (2,1), (1,2), (1,1); LHS (3,3) and (4,5) miss it
    want = [(3, 3, 1), (4, 5, 1)]
    got = ind_missing_values(df, ["a", "b"], rhs, ["b", "a"])
    assert sorted(map(tuple, got.collect())) == want
    res = ind_verify(df, ["a", "b"], rhs, ["b", "a"])
    assert (res.total_rows, res.num_violating_clusters) == (5, 2)
    assert sorted(map(tuple, res.violations.collect())) == want


def test_ind_metrics_df_schema(tables):
    lhs_df, rhs_df = tables
    row = ind_metrics_df(lhs_df, ["ref"], rhs_df, ["key"]).collect()[0]
    assert row["total_distinct"] == 4
    assert row["num_missing_values"] == 1
    assert row["holds"] == 0


def test_ind_approx_check(tables):
    from desbordante_spark.operators.ind import ind_approx_check

    lhs_df, rhs_df = tables
    ok = lhs_df.filter("ref in ('a','b','c')")
    r = ind_approx_check(ok, ["ref"], rhs_df, ["key"]).collect()[0]
    assert r["holds_approx"] == 1
    bad = ind_approx_check(lhs_df, ["ref"], rhs_df, ["key"]).collect()[0]
    # 'zz' missing from rhs -> union cardinality exceeds rhs
    assert bad["holds_approx"] == 0


# ---- Faida TestTwoTables golden (test_faida.cpp:53-59) -------------------

def _two_tables(spark):
    import csv

    def load(name):
        path = f"test_input_data/ind_data/two_tables/{name}"
        with open(reference_path(path), newline="") as f:
            rows = [r for r in csv.reader(ln.rstrip() for ln in f)]
        cols = [f"c{i}" for i in range(len(rows[0]))]
        return spark.createDataFrame(
            rows, ", ".join(f"{c} string" for c in cols)
        )

    return {"t0": load("first.csv"), "t1": load("second.csv")}


def test_faida_two_tables_47_inds_golden(spark):
    """Reference test_faida.cpp TestTwoTables: 47 total n-ary INDs over
    the two-tables fixture, containing the 4-ary pair
    t0[c0,c1,c2,c3] ⊆ t1[c0,c1,c3,c4] and its converse — replayed by
    BOTH the exact Mind path and the Faida HLL-sketch path (on data this
    small the approximate result must equal the exact one, which is the
    reference test's own premise)."""
    from desbordante_spark.discovery.mind import discover_nary_inds

    tables = _two_tables(spark)
    for approx in (False, True):
        got = discover_nary_inds(tables, max_arity=4, approx=approx)
        rows = {(r["lhs"], r["rhs"]) for r in got.collect()}
        assert ("t0[c0,c1,c2,c3]", "t1[c0,c1,c3,c4]") in rows, approx
        assert ("t1[c0,c1,c3,c4]", "t0[c0,c1,c2,c3]") in rows, approx
        assert len(rows) == 47, (approx, len(rows))
