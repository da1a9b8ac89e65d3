"""The reference's list-OD golden map (src/tests/test_order.cpp:26-56,
OrderTest.SmallDataset on OD_norm6.csv), transplanted in the VALIDITY
direction: every (lhs-list → rhs-list) dependency the reference's ORDER
miner emits must verify as holding under this engine's list-based OD
verifier (operators/od.py, order/order.h:17-47 semantics), and
hand-checked non-dependencies must fail."""

from __future__ import annotations

import pytest
from conftest import reference_path

from desbordante_spark.operators.od import od_verify

# lhs index-list → rhs index-lists, verbatim from test_order.cpp:31-51
GOLDEN = {
    (0,): [(1,), (3,), (4,)],
    (1,): [(4,), (0, 2), (0, 5), (3, 2), (3, 5)],
    (2,): [(5,)],
    (3,): [(4,), (0, 5), (1, 5)],
    (2, 0): [(5,)],
    (2, 1): [(5,)],
    (2, 3): [(5,)],
    (2, 4): [(5,)],
    (4,): [(0, 5), (1, 3), (1, 5), (3, 1), (3, 2), (3, 5),
           (1, 2, 3), (0, 2, 3)],
    (0, 2): [(1,), (4,), (3, 1), (3, 5)],
    (0, 5): [(4,), (1, 3), (3, 1), (3, 2), (1, 2, 3)],
    (1, 2): [(4,), (0, 5), (3, 5)],
    (1, 3): [(4,), (0, 5)],
    (1, 5): [(4,), (3, 2), (0, 2, 3)],
    (3, 1): [(4,), (0, 5)],
    (3, 2): [(4,), (0, 5), (1, 5)],
    (3, 5): [(4,)],
    (5,): [(2, 3), (2, 4), (2, 1, 3)],
    (1, 2, 3): [(4,), (0, 5)],
    (0, 2, 3): [(4,), (1, 5)],
    (2, 1, 3): [(5,)],
}

# hand-verified NON-dependencies on the same data (e.g. sorting by col0
# yields col2 sequence 4,2,2,…: swap after the first group)
NEGATIVE = [((0,), (2,)), ((0,), (5,)), ((5,), (0,)), ((4,), (2,))]


@pytest.fixture(scope="module")
def odnorm6(spark):
    return (
        spark.read.option("header", "true").option("inferSchema", "true")
        .csv(reference_path("test_input_data/OD_norm6.csv"))
        .cache()
    )


def test_order_golden_all_hold(odnorm6):
    cols = odnorm6.columns
    checked = 0
    for lhs, rhss in GOLDEN.items():
        for rhs in rhss:
            r = od_verify(odnorm6, [cols[i] for i in lhs],
                          [cols[i] for i in rhs])
            assert r.holds, (lhs, rhs)
            checked += 1
    assert checked == sum(len(v) for v in GOLDEN.values())


def test_order_golden_negatives(odnorm6):
    cols = odnorm6.columns
    for lhs, rhs in NEGATIVE:
        r = od_verify(odnorm6, [cols[i] for i in lhs],
                      [cols[i] for i in rhs])
        assert not r.holds, (lhs, rhs)
