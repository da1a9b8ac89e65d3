"""The reference's Apriori golden suite (src/tests/test_apriori.cpp
BookDataset, transactional_data/rules-book.csv, minsup 0.3 minconf 0.5):
exact frequent-itemset and FULL rule sets — including multi-item
consequents Spark FPGrowth alone cannot emit."""

from __future__ import annotations

import pytest
from conftest import reference_path

from desbordante_spark.operators.ar import (
    frequent_itemsets,
    mine_association_rules_full,
    transactions_from,
)

_CSV = "test_input_data/transactional_data/rules-book.csv"

EXPECTED_FREQUENT = {
    frozenset(s) for s in [
        {"Bread"}, {"Milk"}, {"Eggs"}, {"Cheese"}, {"Yogurt"},
        {"Bread", "Milk"}, {"Eggs", "Milk"}, {"Cheese", "Milk"},
        {"Eggs", "Yogurt"}, {"Milk", "Yogurt"}, {"Eggs", "Milk", "Yogurt"},
    ]
}

EXPECTED_RULES = {
    (frozenset(a), frozenset(b)) for a, b in [
        ({"Bread"}, {"Milk"}), ({"Cheese"}, {"Milk"}),
        ({"Milk"}, {"Eggs"}), ({"Eggs"}, {"Milk"}),
        ({"Yogurt"}, {"Eggs"}), ({"Eggs"}, {"Yogurt"}),
        ({"Yogurt"}, {"Milk"}), ({"Milk"}, {"Yogurt"}),
        ({"Yogurt", "Milk"}, {"Eggs"}), ({"Yogurt", "Eggs"}, {"Milk"}),
        ({"Milk", "Eggs"}, {"Yogurt"}), ({"Yogurt"}, {"Milk", "Eggs"}),
        ({"Eggs"}, {"Yogurt", "Milk"}),
    ]
}


@pytest.fixture(scope="module")
def book_tx(spark):
    df = spark.read.csv(reference_path(_CSV)).toDF("tid", "item")
    return transactions_from(df, "singular", tid_col="tid",
                             item_col="item").cache()


def test_apriori_frequent_golden(book_tx):
    got = {
        frozenset(r["items"])
        for r in frequent_itemsets(book_tx, 0.3).collect()
    }
    assert got == EXPECTED_FREQUENT


def test_apriori_rules_golden(book_tx):
    rows = mine_association_rules_full(book_tx, 0.3, 0.5).collect()
    got = {(frozenset(r["antecedent"]), frozenset(r["consequent"]))
           for r in rows}
    assert got == EXPECTED_RULES
    for r in rows:
        assert 0.5 <= r["confidence"] <= 1.0
        assert r["lift"] > 0
