"""Round-2 additions: MFD n-D cluster sizes + highlights, list-based OD,
CFD pattern tableau, Mind n-ary IND discovery, LSH cap reporting, simhash
recall-contract warning. The drift tests live in test_drift.py."""

from __future__ import annotations

import pytest


# ------------------------------------------- MFD n-D cluster_size (fixed)

def test_mfd_nd_cluster_size_matches_1d(spark):
    # degenerate n-D (single RHS via the n-D path) with REPEATED Y values:
    # the old bug reported distinct-point counts, not row counts
    rows = [("a", 1.0), ("a", 1.0), ("a", 9.0), ("b", 2.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    from desbordante_spark.operators.mfd import _euclid_nd_diameters

    nd = {
        r["k"]: (r["cluster_size"], r["diameter"])
        for r in _euclid_nd_diameters(df, ["k"], ["x"], False, 2000).collect()
    }
    assert nd["a"] == (3, pytest.approx(8.0))
    assert nd["b"] == (2, pytest.approx(0.0))


def test_mfd_verify_nd_violating_rows(spark):
    rows = [("a", 0.0, 0.0), ("a", 0.0, 0.0), ("a", 3.0, 4.0), ("b", 1.0, 1.0)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    from desbordante_spark.operators.mfd import mfd_verify

    res = mfd_verify(df, ["k"], ["x", "y"], parameter=4.9)
    assert res.num_violating_rows == 3  # rows, not distinct points (2)
    assert res.total_rows == 4


# ------------------------------------------------------- MFD highlights

def test_mfd_highlights_1d_golden(spark):
    rows = [("a", 0.0), ("a", 4.0), ("a", 10.0), ("b", 1.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    from desbordante_spark.operators.mfd import mfd_highlights

    h = {
        r["point"]: r
        for r in mfd_highlights(df, ["k"], ["v"], parameter=5.0).collect()
    }
    # only cluster a (diameter 10) exceeds; every point highlighted
    assert set(h) == {0.0, 4.0, 10.0}
    assert h[0.0]["furthest_point"] == 10.0 and h[0.0]["max_distance"] == 10.0
    assert h[10.0]["furthest_point"] == 0.0 and h[10.0]["max_distance"] == 10.0
    # tie rule: dist_to_max (6) > dist_to_min (4) → max side
    assert h[4.0]["furthest_point"] == 10.0 and h[4.0]["max_distance"] == 6.0
    assert h[4.0]["exceeds"] == 1 and h[0.0]["exceeds"] == 1


def test_mfd_highlights_1d_tie_picks_min(spark):
    # equidistant point: reference picks the min element on ties
    rows = [("a", 0.0), ("a", 5.0), ("a", 10.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    from desbordante_spark.operators.mfd import mfd_highlights

    h = {r["point"]: r
         for r in mfd_highlights(df, ["k"], ["v"], parameter=6.0).collect()}
    assert h[5.0]["furthest_point"] == 0.0
    assert h[5.0]["exceeds"] == 0  # its own max distance (5) ≤ parameter


def test_mfd_highlights_levenshtein(spark):
    rows = [("g", "kitten"), ("g", "sitting"), ("g", "kitten"), ("h", "abc")]
    df = spark.createDataFrame(rows, "k string, s string")
    from desbordante_spark.operators.mfd import mfd_highlights

    h = mfd_highlights(df, ["k"], ["s"], parameter=2.0,
                       metric="levenshtein").collect()
    by_pt = {r["point"]: r for r in h}
    assert set(by_pt) == {"kitten", "sitting"}
    assert by_pt["kitten"]["furthest_point"] == "sitting"
    assert by_pt["kitten"]["max_distance"] == 3.0


# ---------------------------------------------------------- list-based OD

def test_od_list_lhs(spark):
    # lex order on (l1, l2); rhs must follow
    rows = [
        (1, 1, 10.0, 5.0), (1, 1, 20.0, 6.0),  # lhs (1,10) then (1,20): ok
        (1, 2, 5.0, 4.0),                      # lhs (2,5): rhs drops → swap
        (2, 1, 1.0, 1.0), (2, 2, 2.0, 2.0),    # ctx 2 clean
    ]
    df = spark.createDataFrame(rows, "ctx int, l1 int, l2 double, r double")
    from desbordante_spark.operators.od import od_verify, od_violations

    v = od_violations(df, ["l1", "l2"], "r", context=["ctx"]).collect()
    assert len(v) == 1
    assert (v[0]["ctx"], v[0]["l1"], v[0]["l2"]) == (1, 2, 5.0)
    res = od_verify(df, ["l1", "l2"], "r", context=["ctx"])
    assert not res.holds and res.num_violating_clusters == 1
    assert res.total_rows == 5  # 5 distinct (ctx, l1, l2) groups


def test_od_rhs_list_and_descending(spark):
    rows = [(1, 3.0, 1), (2, 2.0, 9), (3, 2.0, 1)]
    df = spark.createDataFrame(rows, "l int, r1 double, r2 int")
    from desbordante_spark.operators.od import od_verify

    # ascending on rhs list (r1, r2): (3.0,1) then (2.0,9) is a swap
    assert not od_verify(df, "l", ["r1", "r2"]).holds
    # descending: (3.0,1) > (2.0,9) > (2.0,1) lexicographically → holds
    assert od_verify(df, "l", ["r1", "r2"], descending=True).holds


def test_od_verify_matches_violations_single_col(spark, testfd):
    from desbordante_spark.operators.od import od_verify, od_violations

    res = od_verify(testfd, "Col1", "Col5")
    nv = od_violations(testfd, "Col1", "Col5").count()
    assert res.num_violating_clusters == nv


# ------------------------------------------------------------ CFD tableau

def test_cfd_tableau(spark):
    rows = [
        ("F", 1, "x"), ("F", 1, "x"), ("F", 2, "y"),   # F: FD holds
        ("O", 1, "x"), ("O", 1, "y"),                  # O: cluster 1 splits
    ]
    df = spark.createDataFrame(rows, "st string, k int, v string")
    from desbordante_spark.operators.cfd import (
        cfd_tableau_metrics_df,
        cfd_tableau_verify,
    )

    out = {
        r["pattern_id"]: r
        for r in cfd_tableau_metrics_df(
            df, ["k"], ["v"],
            [{"st": "F"}, {"st": "O"}, {"st": "Z"}],
        ).collect()
    }
    assert out[0]["support"] == 3 and out[0]["holds"] == 1
    assert out[1]["support"] == 2 and out[1]["holds"] == 0
    assert out[1]["num_violating_rows"] == 2
    assert out[2]["support"] == 0 and out[2]["holds"] == 1  # vacuous
    # min_support rejects the vacuous pattern
    out2 = {
        r["pattern_id"]: r
        for r in cfd_tableau_metrics_df(
            df, ["k"], ["v"],
            [{"st": "F"}, {"st": "Z"}], min_support=1,
        ).collect()
    }
    assert out2[1]["holds"] == 0
    res = cfd_tableau_verify(df, ["k"], ["v"], [{"st": "F"}, {"st": "O"}])
    assert not res.holds and res.total_rows == 5


def test_cfd_tableau_wildcard_and_overlap(spark):
    rows = [("F", "a", 1, "x"), ("F", "b", 1, "y")]
    df = spark.createDataFrame(rows, "st string, t string, k int, v string")
    from desbordante_spark.operators.cfd import cfd_tableau_metrics_df

    out = {
        r["pattern_id"]: r
        for r in cfd_tableau_metrics_df(
            df, ["k"], ["v"],
            [{"st": "F", "t": "_"}, {"st": "F", "t": "a"}],
        ).collect()
    }
    # wildcard pattern sees both rows (violating); constant pattern only one
    assert out[0]["support"] == 2 and out[0]["holds"] == 0
    assert out[1]["support"] == 1 and out[1]["holds"] == 1


# ------------------------------------------------- Mind n-ary discovery

def test_mind_nary_discovery(spark):
    a = spark.createDataFrame(
        [(1, "x"), (2, "y")], "k int, s string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (1, "y")], "k int, s string"
    )
    from desbordante_spark.discovery.mind import discover_nary_inds

    out = discover_nary_inds({"a": a, "b": b}, max_arity=2).collect()
    got = {(r["lhs"], r["rhs"], r["arity"]) for r in out}
    assert ("a[k]", "b[k]", 1) in got
    assert ("a[s]", "b[s]", 1) in got
    assert ("a[k,s]", "b[k,s]", 2) in got
    # reverse direction invalid (b has values a lacks)
    assert not any(l.startswith("b[") for l, _, _ in got)


def test_mind_nary_rejects_unaligned(spark):
    # unary INDs hold pairwise but the tuple IND does not
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, s string")
    b = spark.createDataFrame([(1, "y"), (2, "x")], "k int, s string")
    from desbordante_spark.discovery.mind import discover_nary_inds

    out = discover_nary_inds({"a": a, "b": b}, max_arity=2).collect()
    got = {(r["lhs"], r["rhs"], r["arity"]) for r in out}
    assert ("a[k]", "b[k]", 1) in got and ("a[s]", "b[s]", 1) in got
    assert not any(arity == 2 for _, _, arity in got)


def test_mind_nulls_excluded(spark):
    a = spark.createDataFrame([(1, "x"), (None, "q")], "k int, s string")
    b = spark.createDataFrame([(1, "x")], "k int, s string")
    from desbordante_spark.discovery.mind import discover_nary_inds

    out = discover_nary_inds({"a": a, "b": b}, max_arity=2).collect()
    got = {(r["lhs"], r["rhs"], r["arity"]) for r in out}
    # null LHS tuples are skipped → a[k] ⊆ b[k] holds; a[s] has 'q' → fails
    assert ("a[k]", "b[k]", 1) in got
    assert ("a[s]", "b[s]", 1) not in got


# ------------------------------------------------- LSH cap reporting

def test_lsh_dropped_bucket_report(spark):
    # 30 identical docs form one degenerate band bucket; 2 genuine near-dups
    # identical token set for n1/n2 → identical signatures → a guaranteed
    # shared band, independent of hash seeds
    rows = [(f"d{i:03d}", "all the same words here") for i in range(30)]
    rows += [("n1", "unique alpha beta gamma delta"),
             ("n2", "unique alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    from desbordante_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=8)
    rep: dict = {}
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, bands=4, max_bucket=10,
                                dropped_report=rep).collect()
    assert rep["n_buckets_dropped"] >= 1
    assert rep["n_ids_in_dropped"] >= 30
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert ("n1", "n2") in got  # non-dropped candidates unaffected
    assert not any(a.startswith("d") for a, _ in got)
    # uncapped: same frame reports zero drops
    rep2: dict = {}
    lsh_candidate_pairs(sigs, num_hashes=8, bands=4, max_bucket=1000,
                        dropped_report=rep2).collect()
    assert rep2 == {"n_buckets_dropped": 0, "n_ids_in_dropped": 0}


def test_simhash_partial_recall_warning(spark):
    df = spark.createDataFrame(
        [("a", "one two three"), ("b", "one two four")],
        "doc_id string, text string",
    )
    from desbordante_spark.operators.dedup import simhash, simhash_near_pairs

    fps = simhash(df, "doc_id", "text")
    with pytest.warns(UserWarning, match="max_hamming"):
        simhash_near_pairs(fps, max_hamming=10)
    import warnings

    with warnings.catch_warnings():
        warnings.filterwarnings("error", message=".*max_hamming.*")
        simhash_near_pairs(fps, max_hamming=10, partial_ok=True)
        simhash_near_pairs(fps, max_hamming=3)


# ----------------------------------------------- DataStats extra getters

def test_stats_case_char_counts_and_words_set(spark):
    rows = [("Ab cD",), ("xyz",), (None,), ("",)]
    df = spark.createDataFrame(rows, "s string")
    from desbordante_spark.operators.stats import profile, words_set

    r = profile(df, ["s"]).collect()[0]
    assert r["num_uppercase_chars"] == 2  # A, D
    assert r["num_lowercase_chars"] == 5  # b, c, x, y, z
    ws = [x["word"] for x in words_set(df, "s").collect()]
    assert ws == ["Ab", "cD", "xyz"]


def test_fd_highlights_lhs_sort(spark, testfd):
    from desbordante_spark.operators.fd import fd_highlights

    h = fd_highlights(testfd, ["Col1"], ["Col2"], row_id="row_id",
                      sort_by="lhs", ascending=True).collect()
    assert [r["Col1"] for r in h] == sorted(r["Col1"] for r in h)
    hd = fd_highlights(testfd, ["Col1"], ["Col2"], row_id="row_id",
                       sort_by="lhs", ascending=False).collect()
    assert [r["Col1"] for r in hd] == sorted((r["Col1"] for r in hd),
                                             reverse=True)


# ------------------------------------------- OD + AFD discovery (round 2)

def test_discover_ods(spark):
    rows = [
        (1, 1, 10.0, 100.0), (1, 2, 20.0, 90.0), (1, 3, 30.0, 80.0),
        (2, 1, 5.0, 50.0), (2, 2, 6.0, 40.0),
    ]
    df = spark.createDataFrame(rows, "ctx int, a int, b double, c double")
    from desbordante_spark.discovery.order import discover_ods

    out = {
        (r["lhs"], r["rhs"], r["direction"]): r["holds"]
        for r in discover_ods(df, ["a", "b", "c"], context=["ctx"]).collect()
    }
    assert out[("a", "b", "asc")] == 1   # b increases with a
    assert out[("a", "c", "asc")] == 0   # c decreases with a
    assert out[("a", "c", "desc")] == 1
    assert out[("b", "a", "asc")] == 1   # inverse also swap-free
    assert out[("c", "b", "desc")] == 1
    assert len(out) == 12  # 3 cols × 2 others × 2 directions


def test_discover_ods_swap_counts(spark):
    rows = [(1, 1, 2.0), (1, 2, 1.0), (1, 3, 3.0), (2, 1, 1.0), (2, 2, 2.0)]
    df = spark.createDataFrame(rows, "ctx int, a int, b double")
    from desbordante_spark.discovery.order import discover_ods

    out = {
        (r["lhs"], r["rhs"]): r
        for r in discover_ods(df, ["a", "b"], context=["ctx"],
                              directions=("asc",)).collect()
    }
    r = out[("a", "b")]
    assert r["holds"] == 0 and r["num_swap_groups"] == 1  # a=2 in ctx 1
    assert r["total_groups"] == 5


def test_discover_afds(spark):
    # y is determined by x except one dirty row out of 10 (error 0.1);
    # z is near-constant (9/10 same value)
    rows = [(i, i % 3, "v" if i % 3 != 0 else "w", "k" if i else "q")
            for i in range(9)]
    rows.append((9, 0, "v", "k"))  # dirty: x=0 usually "w", here "v"
    df = spark.createDataFrame(rows, "rid int, x int, y string, z string")
    from desbordante_spark.discovery.pfdtane import discover_afds

    afds = discover_afds(df, ["rid", "x", "y", "z"], max_lhs=1,
                         max_error=0.15)
    got = {(lhs, rhs): err for lhs, rhs, err in afds}
    # z: 9/10 "k" → () -> z qualifies at error 0.1
    assert got[((), "z")] == pytest.approx(0.1)
    # x -> y: one dirty row in the x=0 cluster → per_tuple error 0.1
    assert got[(("x",), "y")] == pytest.approx(0.1)
    # minimality: () -> y has error 0.4 (6/10 "v") so x -> y is minimal;
    # no lhs qualifies for x (all clusters tiny? x has 3 values over 10 rows)
    assert ((), "y") not in got
    # rid is a key: rid -> everything qualifies with error 0
    assert got[(("rid",), "y")] == 0.0
    # monotone pruning: nothing reported with a qualifying subset
    for (lhs, rhs) in got:
        for (lhs2, rhs2) in got:
            if rhs == rhs2 and lhs != lhs2:
                assert not set(lhs2) < set(lhs)


def test_discover_ods_context_candidates(spark):
    # b increases with a inside each c1 group, but pooling them (c2 is one
    # value everywhere) creates a swap — the OD holds under context {c1}
    # and fails under {c2}
    rows = [
        (1, 9, 1, 1.0), (1, 9, 2, 2.0),
        (2, 9, 3, 0.5), (2, 9, 4, 0.6),
    ]
    df = spark.createDataFrame(rows, "c1 int, c2 int, a int, b double")
    from desbordante_spark.discovery.order import discover_ods

    out = {
        (r["context"], r["lhs"], r["rhs"], r["direction"]): r["holds"]
        for r in discover_ods(
            df, ["a", "b"], directions=("asc",),
            context_candidates=[["c1"], ["c2"]],
        ).collect()
    }
    assert out[("c1", "a", "b", "asc")] == 1
    assert out[("c2", "a", "b", "asc")] == 0


def test_discovery_approx_mode_matches_exact(spark):
    # exact=False is sketch-prune + exact-confirm: results must EQUAL the
    # exact path (the sketch only prunes)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    from desbordante_spark.discovery.tane import discover_fds, discover_uccs

    df = orders.select(*cols)
    assert discover_fds(df, max_lhs=2, exact=False) == \
        discover_fds(df, max_lhs=2, exact=True)
    assert discover_uccs(df, max_size=2, exact=False) == \
        discover_uccs(df, max_size=2, exact=True)
