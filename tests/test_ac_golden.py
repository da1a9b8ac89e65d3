"""Reference golden replay: ACAlgorithm (test_ac_algorithm.cpp).

Every expectation below is transplanted from
/root/reference/src/tests/test_ac_algorithm.cpp (the constants are the
point of a conformance suite); the computations are
desbordante_spark/discovery/ac_algorithm.py's own. The fuzzy cases
(FuzzyBumpsDetection, CollectingACExceptions) replay the reference's
std::mt19937 + bernoulli sampling stream bit-for-bit — they are the
proof the RNG emulation is exact.

No Spark session needed except for the scale-path parity test at the
bottom.
"""

import pytest
from conftest import reference_path

from desbordante_spark.discovery.ac_algorithm import (
    ACFaithful,
    calculate_sample_size,
    load_reference_csv,
)

DATA = "test_input_data"
IRIS = "examples/datasets/iris.csv"


def _iris():
    return load_reference_csv(reference_path(IRIS), has_header=False)


def _tbl(name):
    return load_reference_csv(reference_path(f"{DATA}/{name}.csv"),
                              has_header=True)


def _flat(ranges):
    """[lo, hi, lo, hi, ...] like the reference's border vector."""
    return [b for r in ranges for b in r]


APPROX = pytest.approx  # reference Compare() on doubles is epsilon-based


# ---- SampleSizeCalculation (test_ac_algorithm.cpp:93-98) ----------------

def test_sample_size_calculation():
    assert calculate_sample_size(150, 1, 0.1, 0.8) == 28
    assert calculate_sample_size(150, 13, 0.1, 0.8) == 168
    assert calculate_sample_size(150, 28, 0.1, 0.8) == 331


def test_sample_size_exact_mode_is_full_table():
    assert calculate_sample_size(12345, 7, 0.0, 0.8) == 12345


# ---- NonFuzzyBumpsDetection1/2 (lines 73-91) ----------------------------

def test_non_fuzzy_bumps_iris_addition():
    a = ACFaithful(_iris(), "+", fuzziness=0.0, p_fuzz=0.9,
                   weight=0.05).execute()
    assert _flat(a.ranges_by_columns(0, 2)) == APPROX(
        [5.4, 7.4, 8.1, 8.5, 9.1, 14.6]
    )
    assert _flat(a.ranges_by_columns(2, 3)) == APPROX([1.2, 2.3, 4.1, 9.2])


# ---- SubNonFuzzy / MulNonFuzzy (lines 100-118) --------------------------

def test_sub_non_fuzzy_iris():
    a = ACFaithful(_iris(), "-", fuzziness=0.0).execute()
    assert _flat(a.ranges_by_columns(1, 3)) == APPROX([0.3, 2.0, 2.7, 4.0])


def test_mul_non_fuzzy_iris():
    a = ACFaithful(_iris(), "*", fuzziness=0.0).execute()
    assert _flat(a.ranges_by_columns(2, 3)) == APPROX(
        [0.11, 0.96, 3.3, 15.87]
    )


# ---- DivNonFuzzy (lines 120-140): swapped pairs + int truncation --------

def test_div_non_fuzzy_zeros():
    a = ACFaithful(_tbl("TestZeros"), "/", fuzziness=0.0).execute()
    assert _flat(a.ranges_by_columns(0, 1)) == [0, 1, 10, 10]
    # 2/20 == 0 under C++ int64 division — the truncation golden
    assert _flat(a.ranges_by_columns(1, 0)) == [0, 0, 1, 1]
    assert _flat(a.ranges_by_columns(0, 2)) == [1, 1]
    assert _flat(a.ranges_by_columns(2, 0)) == [0, 0, 1, 1]


# ---- FuzzyBumpsDetection (lines 142-156): exact RNG-stream replay -------

def test_fuzzy_bumps_testlong():
    a = ACFaithful(_tbl("TestLong"), "+", fuzziness=0.55, p_fuzz=0.41,
                   weight=0.1, seed=0).execute()
    assert _flat(a.ranges_by_columns(0, 1)) == [
        3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8
    ]
    assert _flat(a.ranges_by_columns(0, 2)) == [2, 2, 8, 9, 12, 13]
    assert _flat(a.ranges_by_columns(1, 2)) == [9, 9, 11, 11]


# ---- CollectingACExceptions (lines 183-195) -----------------------------

def test_collecting_ac_exceptions_testlong():
    a = ACFaithful(_tbl("TestLong"), "+", fuzziness=0.55, p_fuzz=0.41,
                   weight=0.1, seed=0).execute()
    got = [(e.row, e.column_pairs) for e in a.collect_exceptions()]
    assert got == [
        (0, [(1, 2)]),
        (1, [(0, 2), (1, 2)]),
        (2, [(0, 2), (1, 2)]),
        (3, [(0, 2), (1, 2)]),
    ]


# ---- NullAndEmptyIgnoring (lines 158-174) -------------------------------

def test_null_and_empty_ignoring():
    a = ACFaithful(_tbl("NullEmpty"), "+", fuzziness=0.0).execute()
    assert len(a.collections) == 6
    assert _flat(a.ranges_by_columns(0, 1)) == [3, 3]
    assert _flat(a.ranges_by_columns(0, 2)) == [4, 4]
    assert _flat(a.ranges_by_columns(0, 3)) == [2, 2]


# ---- ColumnTypesPairing (lines 176-181) ---------------------------------

def test_column_types_pairing_simple_types():
    a = ACFaithful(_tbl("SimpleTypes"), "+", fuzziness=0.0).execute()
    # deduced vector is the test_typed_column_data.cpp kSimpleTypes golden
    assert a.types == [
        "undefined", "undefined", "undefined", "int", "string", "double",
        "bigint", "double", "bigint", "mixed", "int",
    ]
    # only same-TypeId numeric pairs: (Int, Int1) and (Double, IntAndDouble)
    assert len(a.collections) == 2
    assert {(c.lhs, c.rhs) for c in a.collections} == {(3, 10), (5, 7)}


# ---- RangesReconstruction (lines 197-204) -------------------------------

def test_ranges_reconstruction_weight_one():
    a = ACFaithful(_iris(), "-", fuzziness=0.0).execute()
    assert _flat(a.reconstruct_ranges(1, 3, 1)) == APPROX([0.3, 4.0])


# ---- compat facade honors the reference knobs ---------------------------

def test_compat_ac_faithful_route(spark):
    import pandas as pd

    import desbordante_spark.compat as db

    rows = _tbl("TestLong")
    pdf = pd.DataFrame(rows, columns=["c0", "c1", "c2"], dtype=str)
    algo = db.ac.algorithms.AcAlgorithm()
    algo.load_data(table=pdf, spark=spark)
    algo.execute(bin_operation="+", fuzziness=0.55, p_fuzz=0.41,
                 weight=0.1, ac_seed=0)
    rng = {r.column_indices: r.ranges for r in algo.get_ac_ranges()}
    assert [b for pair in rng[(0, 2)] for b in pair] == [2, 2, 8, 9, 12, 13]
    excs = algo.get_ac_exceptions()
    assert {(e.row_index, e.column_indices) for e in excs} >= {
        (0, (1, 2)), (1, (0, 2)), (3, (1, 2)),
    }


# ---- scale path ≡ faithful path on a full non-fuzzy sample --------------

def test_spark_ranges_match_faithful_non_fuzzy(spark):
    """operators/ac.ac_build_ranges (distributed) now carries the same
    bundling rule as the reference; on a full sample of an all-double
    column pair the two engines must emit identical ranges."""
    from desbordante_spark.operators.ac import ac_build_ranges

    rows = _iris()
    faithful = ACFaithful(rows, "+", fuzziness=0.0, weight=0.05).execute()
    df = spark.createDataFrame(
        [(float(r[0]), float(r[2])) for r in rows], "a double, c double"
    )
    got = ac_build_ranges(df, "a", "c", op="+", sample_fraction=1.0,
                          weight=0.05)
    assert _flat(got) == APPROX(_flat(faithful.ranges_by_columns(0, 2)))
