"""Column-profiler golden tests (F4 / TestDataStats.csv pattern,
src/tests/test_data_stats.cpp:31-120 semantics): nulls and empties excluded
from value stats; all-null columns yield no values; word/char stats."""

from __future__ import annotations

import math

import pytest

from desbordante_spark.operators.stats import (
    char_vocab,
    profile,
    table_stats,
    top_k_words,
    word_stats,
)


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [
        (None, None, 1.0, 1, "abc abd"),
        (None, "", 2.0, 2, " eeee  ggg "),
        (None, "1", None, 3, None),
        (None, "2", 4.0, 4, ""),
        (None, "2", 0.0, 5, "ABC def GGG"),
    ]
    schema = (
        "col_all_null string, col_mixed string, col_double double,"
        " col_int long, col_words string"
    )
    return spark.createDataFrame(rows, schema).cache()


@pytest.fixture(scope="module")
def prof(fixture_df):
    return {r["column"]: r for r in profile(fixture_df).collect()}


def test_all_null_column(prof):
    r = prof["col_all_null"]
    assert r["count_values"] == 0
    assert r["null_count"] == 5
    assert r["distinct_values"] == 0
    assert r["min_value"] is None and r["max_value"] is None
    assert r["sum"] is None and r["avg"] is None


def test_null_empty_exclusion(prof):
    r = prof["col_mixed"]
    assert r["count_values"] == 3
    assert r["null_count"] == 1
    assert r["empty_count"] == 1
    assert r["distinct_values"] == 2
    assert r["min_value"] == "1" and r["max_value"] == "2"


def test_numeric_stats(prof):
    r = prof["col_double"]
    assert r["count_values"] == 4
    assert r["sum"] == pytest.approx(7.0)
    assert r["avg"] == pytest.approx(1.75)
    assert r["stddev"] == pytest.approx(math.sqrt(8.75 / 3), abs=1e-9)
    assert r["num_zeros"] == 1 and r["num_negatives"] == 0
    assert r["sum_of_squares"] == pytest.approx(21.0)
    i = prof["col_int"]
    assert i["sum"] == pytest.approx(15.0)
    assert i["stddev"] == pytest.approx(math.sqrt(2.5), abs=1e-9)
    assert list(i["quantiles"]) == [2.0, 3.0, 4.0]
    assert i["is_categorical"]


def test_string_word_stats(prof):
    r = prof["col_words"]
    assert r["count_values"] == 3
    assert r["num_words"] == 7
    assert r["min_words"] == 2 and r["max_words"] == 3
    assert r["num_entirely_uppercase_words"] == 2
    assert r["num_entirely_lowercase_words"] == 5
    assert r["num_chars"] == 7 + 11 + 11
    assert r["min_chars"] == 7 and r["max_chars"] == 11


def test_word_stats_operator(fixture_df):
    r = word_stats(fixture_df, "col_words").collect()[0]
    assert r["distinct_words"] == 7
    assert r["total_words"] == 7


def test_top_k_words(fixture_df):
    rows = top_k_words(fixture_df, "col_words", k=3).collect()
    # all freq 1 -> tie-broken by word asc: ABC, GGG, abc
    assert [r["word"] for r in rows] == ["ABC", "GGG", "abc"]


def test_char_vocab(fixture_df):
    assert char_vocab(fixture_df, "col_mixed") == ["1", "2"]


def test_table_stats(fixture_df):
    rows = {r["column"]: r for r in table_stats(fixture_df).collect()}
    assert rows["col_all_null"]["all_null_or_empty"]
    assert rows["col_int"]["all_unique"]
    assert not rows["col_mixed"]["all_unique"]
    assert rows["col_mixed"]["has_nulls"]


def test_approx_mode(fixture_df):
    rows = {r["column"]: r for r in
            profile(fixture_df, distinct_mode="approx").collect()}
    # HLL++ is exact at tiny cardinality
    assert rows["col_int"]["distinct_values"] == 5


@pytest.mark.parametrize("mode", ["aprox", "none", "EXACT"])
def test_unknown_distinct_mode_raises(fixture_df, mode):
    # a typo must not fall back to one count_distinct per column in a
    # single aggregate (the per-aggregate Expand the profiler avoids)
    with pytest.raises(ValueError, match="distinct_mode"):
        profile(fixture_df, ["col_int"], distinct_mode=mode)


def test_geometric_mean(prof):
    import math
    r = prof["col_int"]
    expect = math.exp(sum(math.log(x) for x in [1, 2, 3, 4, 5]) / 5)
    assert r["geometric_mean"] == pytest.approx(expect, abs=1e-9)


def test_mean_median_ad(fixture_df):
    from desbordante_spark.operators.stats import (
        mean_abs_deviation,
        median_abs_deviation,
    )
    # col_int = 1..5: mean 3, mean AD = (2+1+0+1+2)/5 = 1.2; median 3,
    # |x-3| = {2,1,0,1,2} -> median AD = 1
    assert mean_abs_deviation(fixture_df, "col_int") == pytest.approx(1.2)
    assert median_abs_deviation(fixture_df, "col_int") == pytest.approx(1.0)
