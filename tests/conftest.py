"""Shared Spark session + reference golden fixtures.

The ``testfd`` fixture transplants the reference's 12-row golden table
/root/reference/test_input_data/TestFD.csv verbatim (schema Col0..Col5 +
stable row_id in file order), so the pinned verdicts of
src/tests/test_fd_verifier.cpp:87-123 and test_ucc_verifier.cpp:77-92 apply.
All values are strings; the reference's PLI path treats every cell as a
string and (with is_null_equal_null=true) the empty cell / 'NULL' literal /
'-' are just distinct values (column_layout_relation_data.cpp:43-44).
"""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# one JVM serves the whole suite: a fixed heap keeps its footprint the same
# whatever the library would derive from the machine's memory
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from desbordante_spark.session import get_spark

    s = get_spark(app_name="desbordante-spark-tests", shuffle_partitions=8)
    yield s


# The reference checkout whose test_input_data/ and examples/datasets/ the
# golden tests read. Those files are not part of this repository.
REFERENCE_ROOT = "/root/reference"


def reference_path(rel: str) -> str:
    """Absolute path of ``rel`` inside the reference checkout.

    Skips the calling test, naming the path, when that file or directory
    is absent; call it for every reference file a test reads.
    """
    path = os.path.join(REFERENCE_ROOT, rel)
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    return path


# TestFD.csv rows, verbatim (test_input_data/TestFD.csv)
TESTFD_ROWS = [
    ("1", "1", "1", "1.233", "-", "1"),
    ("1", "1", "1", "0", "8", "2"),
    ("1", "1", "2.1", "0", "8", "3"),
    ("1", "2", "2", "hjkl", "444", "4"),
    ("1", "2", "2", "hjkl", "444", "4"),
    ("1", "2", "", "hjkl", "444", "5"),
    ("1", "3", "3", "0", "9", "6"),
    ("1", "3", "3", "0", "9", "6"),
    ("1", "3", "NULL", "999", "-", "7"),
    ("1", "4", "4", "hjkl", "555", "8"),
    ("1", "4", "4", "hjkl", "555", "8"),
    ("1", "4", "abc", "hjkl", "555", "9"),
]

TESTFD_COLS = ["Col0", "Col1", "Col2", "Col3", "Col4", "Col5"]


@pytest.fixture(scope="session")
def testfd(spark):
    rows = [(i, *r) for i, r in enumerate(TESTFD_ROWS)]
    return spark.createDataFrame(rows, ["row_id", *TESTFD_COLS]).cache()
