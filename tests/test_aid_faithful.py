"""Faithful AID-FD conformance.

The reference has NO golden suite for Aid (it is absent from
test_fd_algorithm.cpp's typed list), so conformance is established
against an independent in-memory replay of the published algorithm
(aid.cpp:68-252): same cluster ranks, same ``(pass * 10619863) % idx``
pair schedule, same 10-slot growth-window stop rule, same singleton-
initialized cover inversion. The Spark path must match it EXACTLY —
pair schedule, stop pass, negative-cover size, and final FD set — on
reference fixture tables and synthetic shapes (constants, duplicates,
single row, many passes)."""

from __future__ import annotations

import csv
import os

import pytest
from conftest import REFERENCE_ROOT, TESTFD_COLS, TESTFD_ROWS, reference_path

from desbordante_spark.discovery.aid_search import (
    K_PRIME,
    aid_stop_pass,
    discover_fds_aid_faithful,
)

REF = "test_input_data"


# ---------------------------------------------------------------- oracle

def _aid_oracle(rows: list[tuple], cols: list[str]):
    """Driver-only replay of aid.cpp over value-equality tuples."""
    n, m = len(rows), len(cols)
    clusters: list[dict] = [dict() for _ in range(m)]
    idx_in_cluster = [[0] * m for _ in range(n)]
    constant = set()
    for a in range(m):
        for t in range(n):
            cl = clusters[a].setdefault(rows[t][a], [])
            cl.append(t)
            idx_in_cluster[t][a] = len(cl) - 1
        if n and len(clusters[a]) == 1:
            constant.add(cols[a])

    neg: set[frozenset] = set()
    ring, total, prev = [1.0] * 10, 10.0, 0
    passes = 0
    for i in range(1, 10_000):
        passes = i
        for t in range(n):
            for a in range(m):
                idx = idx_in_cluster[t][a]
                if i <= idx:
                    other = clusters[a][rows[t][a]][(i * K_PRIME) % idx]
                    neg.add(frozenset(
                        cols[j] for j in range(m)
                        if rows[t][j] == rows[other][j]
                    ))
        curr = len(neg)
        ratio = (0.0 if curr == 0 else 1.0) if prev == 0 \
            else curr / prev - 1
        slot = i % 10
        total += ratio - ring[slot]
        ring[slot] = ratio
        if total / 10 < 0.01:
            break
        prev = curr

    fds = [((), c) for c in cols if c in constant]
    for rhs in cols:
        if rhs in constant:
            continue
        cands = {frozenset([a]) for a in cols
                 if a != rhs and a not in constant}
        for e in sorted((e for e in neg if rhs not in e),
                        key=lambda s: (-len(s), sorted(s))):
            removed = [c for c in cands if c <= e]
            for c in removed:
                cands.discard(c)
            for c in removed:
                for b in cols:
                    if b == rhs or b in e or b in constant:
                        continue
                    child = c | {b}
                    if not any(x <= child for x in cands):
                        cands.add(child)
        pos = {c: p for p, c in enumerate(cols)}
        fds += [(tuple(sorted(l, key=pos.get)), rhs) for l in cands]
    return set(fds), passes, len(neg)


def _spark_df(spark, rows, cols):
    return spark.createDataFrame(
        [(i, *[str(v) for v in r]) for i, r in enumerate(rows)],
        ", ".join(["rid long"] + [f"`{c}` string" for c in cols]),
    )


def _read_csv(path):
    with open(path, newline="") as f:
        rdr = csv.reader(f)
        header = next(rdr)
        rows = []
        for r in rdr:
            if not r:           # reference stops at the first empty row
                break           # (aid.cpp:31-34)
            rows.append(tuple(r))
        return rows, header


def _csv_rows(name):
    """Rows and header of reference fixture ``name``. TestFD.csv, whose
    rows conftest holds verbatim, is read from the reference where present
    (and must equal that copy), else taken from the copy."""
    if name != "TestFD.csv":
        return _read_csv(reference_path(f"{REF}/{name}"))
    committed = (list(TESTFD_ROWS), list(TESTFD_COLS))
    path = os.path.join(REFERENCE_ROOT, REF, name)
    if not os.path.exists(path):
        return committed
    got = _read_csv(path)
    assert got == committed, f"{path} differs from tests/conftest.py"
    return got


def _assert_matches_oracle(spark, rows, cols, block=16):
    want, want_passes, want_neg = _aid_oracle(rows, cols)
    stats: dict = {}
    got = discover_fds_aid_faithful(
        _spark_df(spark, rows, cols), row_id="rid", block=block,
        stats=stats,
    )
    assert set(got) == want
    assert stats["passes"] == want_passes
    assert stats["neg_cover"] == want_neg


@pytest.mark.parametrize("fixture", ["TestWide.csv", "TestLong.csv",
                                     "TestFD.csv", "Test1.csv"])
def test_aid_matches_oracle_on_reference_fixtures(spark, fixture):
    rows, cols = _csv_rows(fixture)
    _assert_matches_oracle(spark, rows, cols)


def test_aid_constant_and_duplicate_rows(spark):
    rows = [("x", "1", "a"), ("x", "1", "a"), ("x", "2", "b"),
            ("x", "2", "b"), ("x", "3", "a")]
    _assert_matches_oracle(spark, rows, ["k", "u", "v"])


def test_aid_single_row_all_constant(spark):
    got = discover_fds_aid_faithful(
        _spark_df(spark, [("a", "b")], ["x", "y"]), row_id="rid"
    )
    assert got == [((), "x"), ((), "y")]


def test_aid_many_passes_small_block(spark):
    # 40 identical-key rows force deep cluster indices -> multiple blocks
    rows = [("k", str(i % 4), str(i % 3)) for i in range(40)]
    _assert_matches_oracle(spark, rows, ["k", "p", "q"], block=4)


def test_aid_stop_rule_replay():
    # zero growth from the start drains the all-1.0 window in 10 passes
    assert aid_stop_pass([0] * 20) == 10
    # steady growth never triggers within the horizon
    assert aid_stop_pass([2 ** k for k in range(1, 15)]) is None


def test_compat_aid_routes_to_faithful(spark):
    """fd.algorithms.Aid on a CSV (file row order available) must equal
    the in-memory replay of aid.cpp on the same file."""
    import desbordante_spark.compat as desbordante

    rows, cols = _csv_rows("TestWide.csv")
    want, _, _ = _aid_oracle(rows, cols)
    algo = desbordante.fd.algorithms.Aid()
    algo.load_data(table=(reference_path(f"{REF}/TestWide.csv"), ",", True))
    algo.execute()
    got = {(tuple(f.lhs), f.rhs) for f in algo.get_fds()}
    assert got == want


def test_aid_refutation_soundness_vs_exact(spark):
    """Every true minimal FD must be covered by an AID FD with lhs ⊆ the
    true lhs (AID can only over-generalize, never miss a direction)."""
    from desbordante_spark.discovery.tane import discover_fds

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderstatus", "o_orderpriority", "o_orderdate",
             "o_custkey").limit(300)
    from pyspark.sql import functions as F
    base = orders.withColumn(
        "rid", F.monotonically_increasing_id()
    ).localCheckpoint()
    exact = discover_fds(base.drop("rid"), max_lhs=2)
    aid = discover_fds_aid_faithful(base, row_id="rid")
    for lhs, rhs in exact:
        assert any(
            g_rhs == rhs and set(g_lhs) <= set(lhs) for g_lhs, g_rhs in aid
        ), (lhs, rhs)
