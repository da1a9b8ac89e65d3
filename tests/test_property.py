"""Property-based cross-checks: on random small tables, the Spark verifiers
must agree with a brute-force Python oracle (randomized analog of the
reference's fixed-fixture goldens)."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),           # k1
        st.integers(0, 2),           # k2
        st.sampled_from(["a", "b", "c", None]),  # v
    ),
    min_size=1,
    max_size=25,
)


def _brute_ucc(rows, cols_idx):
    counts = Counter(tuple(r[i] for i in cols_idx) for r in rows)
    n = len(rows)
    nvc = sum(1 for c in counts.values() if c > 1)
    nvr = sum(c for c in counts.values() if c > 1)
    pairs2x = sum(c * (c - 1) for c in counts.values())
    err = pairs2x / (n * (n - 1)) if n > 1 else 0.0
    return n, nvc, nvr, err


def _brute_fd(rows, lhs_idx, rhs_idx):
    clusters: dict = {}
    for r in rows:
        clusters.setdefault(tuple(r[i] for i in lhs_idx), []).append(
            tuple(r[i] for i in rhs_idx)
        )
    n = len(rows)
    nvc = nvr = conflicts = 0
    for vals in clusters.values():
        c = len(vals)
        cnt = Counter(vals)
        eq = sum(k * (k - 1) for k in cnt.values())
        conflicts += c * (c - 1) - eq
        if len(cnt) > 1:
            nvc += 1
            nvr += c
    err = conflicts / (n * n - n) if n > 1 else 0.0
    return n, nvc, nvr, err


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_ucc_matches_bruteforce(spark, rows):
    from desbordante_spark.operators.ucc import ucc_metrics_df

    df = spark.createDataFrame(rows, "k1 int, k2 int, v string")
    m = ucc_metrics_df(df, ["k1", "k2"]).collect()[0]
    n, nvc, nvr, err = _brute_ucc(rows, (0, 1))
    assert (m["total_rows"], m["num_violating_clusters"],
            m["num_violating_rows"]) == (n, nvc, nvr)
    assert m["error"] == pytest.approx(err, abs=1e-12)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_fd_matches_bruteforce(spark, rows):
    from desbordante_spark.operators.fd import fd_metrics_df

    df = spark.createDataFrame(rows, "k1 int, k2 int, v string")
    m = fd_metrics_df(df, ["k1"], ["v"]).collect()[0]
    n, nvc, nvr, err = _brute_fd(rows, (0,), (2,))
    assert (m["total_rows"], m["num_violating_clusters"],
            m["num_violating_rows"]) == (n, nvc, nvr)
    assert m["error"] == pytest.approx(err, abs=1e-12)


def _brute_min_auccs(rows, col_idx, max_size, max_error):
    """All minimal column sets (by index, names assumed in index order)
    whose equal-pair error <= max_error, exactly the miners' contract."""
    from itertools import combinations

    n = len(rows)

    def err(idx):
        counts = Counter(tuple(r[i] for i in idx) for r in rows)
        p2x = sum(c * (c - 1) for c in counts.values())
        return p2x / (n * (n - 1)) if n > 1 else 0.0

    qualifying = []
    for size in range(1, max_size + 1):
        for idx in combinations(col_idx, size):
            if any(set(q) <= set(idx) for q, _ in qualifying):
                continue
            e = err(idx)
            if e <= max_error:
                qualifying.append((idx, e))
    return sorted(qualifying)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy,
       max_error=st.sampled_from([0.0, 0.05, 0.2, 0.5]))
def test_aucc_miners_match_bruteforce(spark, rows, max_error):
    """Levelwise AUCC enumeration, the faithful PyroUCC traversal, and a
    brute-force Python oracle agree on minimal sets AND exact errors for
    random small tables at random thresholds (null-safe keys: nulls
    agree, like the miners' group_key)."""
    from desbordante_spark.discovery.aucc import (
        discover_auccs,
        discover_auccs_pyro,
    )

    df = spark.createDataFrame(rows, "c1 int, c2 int, c3 string")
    level = discover_auccs(df, max_size=3, max_error=max_error)
    pyro = discover_auccs_pyro(df, max_size=3, max_error=max_error)
    assert level == pyro
    names = ["c1", "c2", "c3"]
    want = [
        (tuple(names[i] for i in idx), e)
        for idx, e in _brute_min_auccs(rows, (0, 1, 2), 3, max_error)
    ]
    assert [s for s, _ in level] == [s for s, _ in want]
    for (_, got_e), (_, want_e) in zip(level, want):
        assert got_e == pytest.approx(want_e, abs=1e-12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=st.lists(
           st.tuples(
               st.integers(0, 2),                     # partition 0..2
               st.one_of(st.none(),
                         st.integers(-20, 20)),       # numeric value
               st.sampled_from(["a", "b", None]),     # discrete value
           ),
           min_size=1, max_size=30,
       ),
       cut=st.integers(0, 29))
def test_hist_state_incremental_matches_full_and_bruteforce(
    spark, rows, cut
):
    """For a random frame and a random base/delta split, the incrementally
    folded histogram state equals both a one-shot init and a brute-force
    Python bucket count (fixed-width AND discrete rules)."""
    from desbordante_spark.operators.profile_state import (
        hist_apply_incremental,
        hist_state_init,
    )

    specs = {"x": 5.0, "s": "discrete"}
    data = [(f"p{p}", x, s) for p, x, s in rows]
    df = spark.createDataFrame(data, "part_key string, x long, s string")
    cut = min(cut, len(data))
    base, delta = data[:cut], data[cut:]
    mk = lambda d: spark.createDataFrame(  # noqa: E731
        d, "part_key string, x long, s string"
    )
    st_full = hist_state_init(df, specs)
    if base and delta:
        st_inc = hist_apply_incremental(
            hist_state_init(mk(base), specs), mk(delta), specs
        )
    else:
        st_inc = st_full
    got_full = sorted(map(tuple, st_full.collect()))
    got_inc = sorted(map(tuple, st_inc.collect()))
    want = Counter()
    for p, x, s in data:
        if x is not None:
            want[(p, "x", str(x // 5))] += 1
        if s is not None:
            want[(p, "s", s)] += 1
    brute = sorted((p, c, b, n) for (p, c, b), n in want.items())
    assert got_full == brute
    assert got_inc == brute


# random frames for the verdict-fold equivalences: empty frames, all-null
# key columns and a ``part`` column to group verdicts by
FRAME_SCHEMA = "part string, k1 int, k2 int, v string"
frames_strategy = st.one_of(
    st.lists(
        st.tuples(
            st.sampled_from(["p", "q"]),
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 2)),
            st.sampled_from(["a", "b", None]),
        ),
        max_size=25,
    ),
    st.lists(
        st.tuples(st.sampled_from(["p", "q"]), st.none(), st.none(),
                  st.sampled_from(["a", None])),
        max_size=8,
    ),
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=frames_strategy, thr=st.sampled_from([0.0, 0.2]))
def test_fd_state_and_totals_match_batch(spark, rows, thr):
    """The FD verdict from the level-1 count state equals the batch verdict
    bit-for-bit, per ``by`` group and globally, and the carried totals give
    the same global row without a Spark job."""
    from desbordante_spark.operators.dynamic import (
        fd_metrics_from_state, fd_state_init, fd_totals_from_state,
        metrics_row_from_totals,
    )
    from desbordante_spark.operators.fd import fd_metrics_df

    df = spark.createDataFrame(rows, FRAME_SCHEMA)
    for by in ([], ["part"]):
        state = fd_state_init(df, [*by, "k1"], ["v"])
        assert _sorted_rows(
            fd_metrics_df(df, ["k1"], ["v"], thr, by=by)
        ) == _sorted_rows(fd_metrics_from_state(state, ["k1"], thr, by))
    batch = fd_metrics_df(df, ["k1"], ["v"], thr).collect()[0].asDict()
    totals = fd_totals_from_state(fd_state_init(df, ["k1"], ["v"]), ["k1"])
    assert batch == metrics_row_from_totals(totals, thr)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=frames_strategy, thr=st.sampled_from([0.0, 0.2]))
def test_ucc_state_and_totals_match_batch(spark, rows, thr):
    """UCC analog of ``test_fd_state_and_totals_match_batch``."""
    from desbordante_spark.operators.dynamic import (
        metrics_row_from_totals, ucc_metrics_from_state, ucc_state_init,
        ucc_totals_from_state,
    )
    from desbordante_spark.operators.ucc import ucc_metrics_df

    df = spark.createDataFrame(rows, FRAME_SCHEMA)
    for by in ([], ["part"]):
        state = ucc_state_init(df, [*by, "k1", "k2"])
        assert _sorted_rows(
            ucc_metrics_df(df, ["k1", "k2"], error_threshold=thr, by=by)
        ) == _sorted_rows(ucc_metrics_from_state(state, thr, by))
    batch = ucc_metrics_df(df, ["k1", "k2"], error_threshold=thr)
    totals = ucc_totals_from_state(ucc_state_init(df, ["k1", "k2"]))
    assert batch.collect()[0].asDict() == metrics_row_from_totals(totals, thr)


def _scalars(res):
    return (res.holds, res.error, res.num_violating_clusters,
            res.num_violating_rows, res.total_rows)


def _fold_in_python(clusters):
    """The cluster-fraction verdict over ``(size, violating)`` pairs:
    ``(holds, error, violating clusters, violating rows, rows, clusters)``."""
    nvc = sum(1 for _, bad in clusters if bad)
    nvr = sum(size for size, bad in clusters if bad)
    k = len(clusters)
    return (nvc == 0, nvc / k if k else 0.0, nvc, nvr,
            sum(size for size, _ in clusters), k)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=frames_strategy, n_docs=st.integers(0, 20),
       seed=st.integers(0, 3), every=st.sampled_from([0, 3]))
def test_verify_scalars_equal_frame_rollups(spark, rows, n_docs, seed, every):
    """``ind_verify``, ``od_verify``, ``mfd_verify`` and
    ``span_invariant_verify`` report exactly the global row of their
    metrics frame, or the rollup of their per-cluster frame."""
    from pyspark.sql import functions as F

    from desbordante_spark.operators.ind import ind_metrics_df, ind_verify
    from desbordante_spark.operators.mfd import (
        mfd_cluster_diameters, mfd_verify,
    )
    from desbordante_spark.operators.od import _od_groups, od_verify
    from desbordante_spark.operators.span_invariant import (
        span_invariant_metrics_df, span_invariant_verify,
    )
    from desbordante_spark.sources.interleaved import generate_documents

    df = spark.createDataFrame(rows, FRAME_SCHEMA)
    rhs_df = df.filter("k2 = 0")
    m = ind_metrics_df(df, ["k1"], rhs_df, ["k1"]).collect()[0]
    assert _scalars(ind_verify(df, ["k1"], rhs_df, ["k1"])) == (
        bool(m["holds"]), m["error"], m["num_missing_values"],
        m["num_violating_rows"], m["total_distinct"],
    )

    diam = mfd_cluster_diameters(df, ["k1"], ["k2"]).select(
        "cluster_size", F.col("diameter") > 1.0
    )
    want = _fold_in_python([tuple(r) for r in diam.collect()])
    assert _scalars(mfd_verify(df, ["k1"], ["k2"], 1.0)) == want[:5]

    g, _, viol = _od_groups(df, "k1", "k2", ["part"], False)
    holds, err, nvc, nvr, _, k = _fold_in_python(
        [tuple(r) for r in g.select("group_size", viol).collect()]
    )
    assert _scalars(od_verify(df, "k1", "k2", ["part"])) == (
        holds, err, nvc, nvr, k
    )

    docs = generate_documents(spark, n_docs, seed=seed, n_media=10,
                              offset_viol_every=every)
    m = span_invariant_metrics_df(docs).collect()[0]
    res = span_invariant_verify(docs)
    assert _scalars(res) == (
        bool(m["holds"]), m["error"], m["num_violating_rows"],
        m["num_violating_rows"], m["total_rows"],
    )
    per_part = span_invariant_metrics_df(docs, by=("part_key",)).collect()
    assert sum(r["total_rows"] for r in per_part) == res.total_rows
    assert sum(r["num_violating_rows"] for r in per_part) == (
        res.num_violating_rows
    )
