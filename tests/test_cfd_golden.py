"""The reference's CFD-mining golden suite (src/tests/test_cfd_algos.cpp
FullTennisDataset / PartialMushroomDataset): exact mined rule sets on the
reference's own fixtures, compared structurally (LHS item set + RHS item —
the reference's string order is an internal artifact)."""

from __future__ import annotations

import pytest
from conftest import reference_path

from desbordante_spark.discovery.cfd_miner import discover_cfds

_CFD = "test_input_data/cfd_data"

TENNIS_EXPECTED = [
    "(windy, temp, outlook) => humidity",
    "(windy, humidity, outlook) => temp",
    "(windy, outlook) => play",
    "(outlook, windy=false) => play",
    "(windy, temp, outlook) => play",
    "(play, temp, outlook) => windy",
    "(temp, outlook, play=yes) => windy",
    "(play, windy, temp) => outlook",
    "(play, temp, windy=false) => outlook",
    "(humidity, outlook) => play",
    "(humidity, temp, outlook) => play",
    "(play, temp, outlook) => humidity",
    "(windy, humidity, outlook) => play",
]

MUSHROOM_EXPECTED = [
    "(edible=p) => cap-shape=x",
    "(cap-shape=b) => edible=e",
    "(cap-color=y) => edible=e",
    "(cap-color, edible=p) => cap-shape",
    "(edible=p, cap-color=n) => cap-shape=x",
    "(cap-surface=f) => edible=e",
    "(cap-color, cap-surface=s) => edible",
    "(cap-surface, edible=p) => cap-shape",
    "(edible=p, cap-surface=y) => cap-shape=x",
    "(cap-surface, cap-shape=f) => edible",
    "(cap-shape, edible=p, cap-surface=s) => cap-color",
    "(cap-color, edible, cap-shape=f) => cap-surface",
    "(cap-shape, edible=p, cap-color=w) => cap-surface",
    "(edible=p, cap-shape=x, cap-color=w) => cap-surface=y",
    "(cap-color, cap-surface, edible=p) => cap-shape",
    "(cap-color, cap-surface, cap-shape) => edible",
    "(cap-color, cap-shape, cap-surface=s) => edible",
    "(cap-color, cap-surface, cap-shape=x) => edible",
]


def _parse_ref(s):
    lhs, rhs = s.split(" => ")
    items = frozenset(i.strip() for i in lhs.strip("()").split(","))
    return (items, rhs.strip())


def _parse_ours(row):
    items = frozenset(
        p.split("=")[0] if p.endswith("=_") else p
        for p in row["lhs_pattern"].split(" AND ")
    )
    rhs = row["rhs"]
    if rhs.endswith("=_"):
        rhs = rhs[:-2]
    return (items, rhs)


def _mine(spark, path, minsup, minconf, max_lhs, ncols=None, nrows=None):
    df = (
        spark.read.option("header", "true").csv(reference_path(path))
    )
    if ncols is not None:
        df = df.select(df.columns[:ncols])
    if nrows is not None:
        df = df.limit(nrows)
    rows = discover_cfds(
        df, min_support=minsup, min_confidence=minconf, max_lhs=max_lhs,
        prune_specializations_of_exact=True,
    ).collect()
    return {_parse_ours(r) for r in rows}


def test_cfd_tennis_golden(spark):
    got = _mine(spark, f"{_CFD}/tennis.csv", 8, 0.85, 3)
    want = {_parse_ref(s) for s in TENNIS_EXPECTED}
    assert got == want, (sorted(got - want), sorted(want - got))


def test_cfd_mushroom_partial_golden(spark):
    got = _mine(spark, f"{_CFD}/mushroom.csv", 4, 0.9, 4, ncols=4, nrows=50)
    want = {_parse_ref(s) for s in MUSHROOM_EXPECTED}
    assert got == want, (sorted(got - want), sorted(want - got))
