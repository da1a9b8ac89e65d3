"""Round-3 coverage: CFD discovery (FDFirst), Fastod auto context lattice,
DD discovery (Split), Faida sketch-pruned Mind, .dot graph source, ANN
recall contracts, bounded AC sample, TANE sketch-prune honesty, checkpoint
hardening, LSH dim guard."""

from __future__ import annotations

from collections import Counter, defaultdict
from itertools import combinations

import pytest
from conftest import reference_path

# ---------------------------------------------------------------- CFD mining

PLAY_ROWS = [
    ("sunny", "hot", "no"), ("sunny", "hot", "no"), ("overcast", "hot", "yes"),
    ("rain", "mild", "yes"), ("rain", "cool", "yes"), ("rain", "cool", "no"),
    ("overcast", "cool", "yes"), ("sunny", "mild", "no"),
    ("sunny", "cool", "yes"), ("rain", "mild", "yes"), ("sunny", "mild", "yes"),
    ("overcast", "mild", "yes"), ("overcast", "hot", "yes"),
    ("rain", "mild", "no"),
]
PLAY_COLS = ["outlook", "temp", "play"]


@pytest.fixture(scope="module")
def play_df(spark):
    return spark.createDataFrame(
        PLAY_ROWS, "outlook string, temp string, play string"
    ).cache()


def _brute_cfds(rows, cols, min_support, min_confidence, max_lhs):
    """Pure-Python FDFirst most-frequent-RHS semantics."""
    idx = {c: i for i, c in enumerate(cols)}
    out = set()
    scols = sorted(cols)
    for k in range(1, max_lhs + 1):
        for s in combinations(scols, k):
            for csize in range(0, k + 1):
                for c in combinations(s, csize):
                    for b in scols:
                        if b in s:
                            continue
                        cset = set(c)
                        # group supported rows by pattern constants
                        pats = defaultdict(lambda: defaultdict(Counter))
                        for r in rows:
                            pat = " AND ".join(
                                f"{a}={r[idx[a]]}" if a in cset else f"{a}=_"
                                for a in s
                            )
                            var = tuple(r[idx[a]] for a in s if a not in cset)
                            pats[pat][var][r[idx[b]]] += 1
                        for pat, groups in pats.items():
                            support = sum(sum(g.values()) for g in groups.values())
                            sat = sum(max(g.values()) for g in groups.values())
                            conf = sat / support
                            if support >= min_support and conf >= min_confidence:
                                if len(c) == len(s):
                                    (only_group,) = groups.values()
                                    best = min(
                                        (v for v, n in only_group.items()
                                         if n == max(only_group.values()))
                                    )
                                    rhs = f"{b}={best}"
                                else:
                                    rhs = f"{b}=_"
                                out.add((pat, b, rhs, k, support, sat,
                                         int(len(c) == len(s))))
    return out


def test_discover_cfds_matches_bruteforce(spark, play_df):
    from desbordante_spark.discovery.cfd_miner import discover_cfds

    got = {
        (r["lhs_pattern"], r["rhs_attr"], r["rhs"], r["lhs_size"],
         r["support"], r["satisfied"], r["is_constant_rhs"])
        for r in discover_cfds(
            play_df, PLAY_COLS, min_support=4, min_confidence=0.75, max_lhs=2
        ).collect()
    }
    want = _brute_cfds(PLAY_ROWS, PLAY_COLS, 4, 0.75, 2)
    assert got == want
    # golden constant rule, mining_cfd.py semantics: overcast always plays
    assert ("outlook=overcast", "play", "play=yes", 1, 4, 4, 1) in got


def test_discover_cfds_null_handling(spark):
    from desbordante_spark.discovery.cfd_miner import discover_cfds

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", None), (None, "y")],
        "u string, v string",
    )
    rows = {r["lhs_pattern"]: r for r in
            discover_cfds(df, ["u", "v"], 1, 0.5, 1).collect()}
    # NULL rows excluded from the candidate's counts entirely
    assert rows["u=a"]["support"] == 2 and rows["u=a"]["rhs"] == "v=x"


# ------------------------------------------------- Fastod auto context lattice

def test_discover_ods_auto_minimal_contexts(spark):
    from desbordante_spark.discovery.order import discover_ods_auto

    # within each g (and each t), a orders b; globally a=2's b (20) dips
    # below a=1's max (25) -> swap
    rows = [(1, 1, 10, "p"), (1, 2, 20, "p"), (2, 1, 25, "q"), (2, 2, 35, "q")]
    df = spark.createDataFrame(rows, "g int, a int, b int, t string")
    out = discover_ods_auto(df, ["a", "b"], ["g", "t"], max_context=2,
                            directions=("asc",))
    rows_ = {(r["context"], r["lhs"], r["rhs"]): int(r["holds"])
             for r in out.collect()}
    assert rows_[("", "a", "b")] == 0
    assert rows_[("g", "a", "b")] == 1
    assert rows_[("t", "a", "b")] == 1
    # minimality: supersets of holding contexts are pruned, never reported
    assert ("g,t", "a", "b") not in rows_


def test_discover_ods_auto_needs_pair_context(spark):
    from desbordante_spark.discovery.order import discover_ods_auto

    # only the PAIR context {g,t} makes groups fine enough: each (g,t) cell
    # is ordered, but g=1 alone mixes cells (25 > 20 swap) and t=1 alone
    # mixes cells (100 > 20 swap)
    rows = [
        (1, 1, 1, 10), (1, 1, 2, 20),
        (1, 2, 1, 25), (1, 2, 2, 35),
        (2, 1, 1, 100), (2, 1, 2, 150),
    ]
    df = spark.createDataFrame(rows, "g int, t int, a int, b int")
    out = discover_ods_auto(df, ["a", "b"], ["g", "t"], max_context=2,
                            directions=("asc",))
    rows_ = {(r["context"], r["lhs"], r["rhs"]): int(r["holds"])
             for r in out.collect()}
    assert rows_[("", "a", "b")] == 0
    assert rows_[("g", "a", "b")] == 0
    assert rows_[("g,t", "a", "b")] == 1  # evaluated: no subset held


def test_discover_ods_auto_text_column_safe(spark):
    from desbordante_spark.discovery.order import discover_ods_auto

    # ANSI mode: non-numeric strings must not crash (try_cast -> NULL)
    df = spark.createDataFrame(
        [(1, "zz"), (2, "yy")], "a int, s string"
    )
    out = discover_ods_auto(df, ["a", "s"], [], max_context=0).collect()
    assert all(r["total_groups"] == 0 for r in out
               if "s" in (r["lhs"], r["rhs"]))


# ------------------------------------------------------- DD discovery (Split)

def test_discover_dds_bruteforce(spark):
    from desbordante_spark.discovery.split import discover_dds

    rows = [(i, float((i * 7) % 50), float((i * 13) % 200), f"s{i % 4}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "rid long, x double, y double, s string")
    got = {r["rhs_col"]: (r["lo"], r["hi"], r["num_pairs"], r["holds"])
           for r in discover_dds(df, {"x": (0.0, 3.0)}, ["y", "s"],
                                 "rid").collect()}

    def lev(a, b):
        if a == b:
            return 0.0
        return 1.0  # s{i%4}: same length, last char differs or equal

    qual = [(a, b) for a in rows for b in rows
            if a[0] < b[0] and abs(a[1] - b[1]) <= 3.0]
    ydists = [abs(a[2] - b[2]) for a, b in qual]
    sdists = [lev(a[3], b[3]) for a, b in qual]
    assert got["y"] == (min(ydists), max(ydists), len(qual), 1)
    assert got["s"] == (min(sdists), max(sdists), len(qual), 1)


def test_discover_dds_min_pairs_and_empty(spark):
    from desbordante_spark.discovery.split import discover_dds

    df = spark.createDataFrame([(0, 0.0, 1.0), (1, 100.0, 2.0)],
                               "rid long, x double, y double")
    # no qualifying pairs at all -> NULL bounds, holds 0
    out = {r["rhs_col"]: r for r in
           discover_dds(df, {"x": (0.0, 1.0)}, ["y"], "rid").collect()}
    assert out["y"]["lo"] is None and out["y"]["holds"] == 0


def test_dd_build_rhs_ranges_gap_split(spark):
    from desbordante_spark.discovery.split import dd_build_rhs_ranges

    # two tight distance clusters: |Δy| ∈ {~0..2} and {~100}
    rows = [(i, float(i), 10.0 + i % 3) for i in range(10)]
    rows += [(100 + i, float(i) + 0.5, 110.0 + i % 3) for i in range(10)]
    df = spark.createDataFrame(rows, "rid long, x double, y double")
    ranges = dd_build_rhs_ranges(df, {"x": (0.0, 1.0)}, "y", "rid",
                                 weight=0.2)
    assert len(ranges) == 2
    assert ranges[0][1] <= 2.0 and ranges[1][0] >= 98.0


# ------------------------------------------------ Faida sketch-pruned Mind

def test_mind_approx_equals_exact(spark):
    from desbordante_spark.discovery.mind import discover_nary_inds

    t1 = spark.createDataFrame([(i % 5, i % 3) for i in range(40)],
                               "a int, b int")
    t2 = spark.createDataFrame([(i % 7, i % 4) for i in range(60)],
                               "c int, d int")
    ex = sorted(map(tuple, discover_nary_inds(
        {"t1": t1, "t2": t2}, max_arity=2).collect()))
    ap = sorted(map(tuple, discover_nary_inds(
        {"t1": t1, "t2": t2}, max_arity=2, approx=True).collect()))
    assert ex == ap and len(ex) > 0


def test_mind_same_table_inds(spark):
    from desbordante_spark.discovery.mind import discover_nary_inds

    # b's values are a subset of a's values within the SAME table
    t = spark.createDataFrame([(i, i % 3) for i in range(10)],
                              "a int, b int")
    got = {(r["lhs"], r["rhs"]) for r in
           discover_nary_inds({"t": t}, max_arity=1).collect()}
    assert ("t[b]", "t[a]") in got
    assert ("t[a]", "t[b]") not in got


# ------------------------------------------------------- .dot graph source

DIRECTORS = "test_input_data/graph_data/directors.dot"
DIRECTORS_GFD = "test_input_data/graph_data/directors_gfd.dot"


def test_parse_dot_graph():
    from desbordante_spark.sources.graph_dot import parse_dot_graph

    text = open(reference_path(DIRECTORS)).read()
    vrows, erows = parse_dot_graph(text)
    assert len(vrows) == 12 and len(erows) == 9
    v0 = next(v for v in vrows if v["vertex_id"] == "0")
    assert v0["label"] == "person" and v0["name"] == "James Cameron"
    assert erows[0] == ("0", "1", "directed")


def test_parse_gfd_file():
    from desbordante_spark.sources.graph_dot import parse_gfd_file

    spec = parse_gfd_file(reference_path(DIRECTORS_GFD))
    assert spec["premises"] == [(("0", "celebrity"), "high")]
    assert spec["conclusion"] == [(("1", "success"), "high")]
    assert spec["pattern_vertices"] == {"0": "person", "1": "film"}
    assert spec["pattern_edges"] == [("0", "1", "directed")]


def test_gfd_dot_end_to_end(spark):
    from desbordante_spark.sources.graph_dot import verify_gfd_files

    res = verify_gfd_files(spark, reference_path(DIRECTORS),
                           reference_path(DIRECTORS_GFD))
    # golden: Cameron (celebrity=high) directed Piranha II (success=low)
    assert not res.holds
    assert res.num_violating_rows == 1
    assert res.total_rows == 9  # one embedding per directed edge
    assert res.details["premise_matches"] == 7
    v = res.violations.collect()
    assert len(v) == 1


# ---------------------------------------------------------- ANN recall floor

def test_ann_recall_vs_bruteforce(spark):
    """Measured recall@10 of the LSH and IVF ANN paths vs exact brute force
    on the sf0.001 embeddings fixture — makes the ANN contracts concrete."""
    from pyspark.sql import functions as F

    from desbordante_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)

    def topsets(df):
        out = defaultdict(set)
        for r in df.collect():
            out[r["query_id"]].add(r["neighbor_id"])
        return out

    exact = topsets(cosine_topk_bruteforce(queries, emb, "vec_id", "vec_id",
                                           k=10))
    lsh = topsets(cosine_topk_lsh(queries, emb, "vec_id", "vec_id", k=10,
                                  planes=4, dim=64))
    ivf = topsets(cosine_topk_ivf(queries, emb, "vec_id", "vec_id", k=10,
                                  n_centroids=16, nprobe=4))
    lsh_recall = sum(len(exact[q] & lsh[q]) for q in exact) / (10 * len(exact))
    ivf_recall = sum(len(exact[q] & ivf[q]) for q in exact) / (10 * len(exact))
    print(f"ANN recall@10 vs brute: lsh={lsh_recall:.3f} ivf={ivf_recall:.3f}")
    # Measured on this fixture (near-uniform random vectors — the LSH
    # worst case; no cluster structure to exploit): lsh(planes=4)=0.42,
    # lsh(planes=3)=0.62, ivf(nprobe=4)=0.51, ivf(nprobe=8)=0.67 — recall
    # rises as planes shrink / nprobe grows, trading candidate volume.
    # Deterministic algorithms + fixture -> stable floors just under those.
    assert lsh_recall >= 0.35
    assert ivf_recall >= 0.45


def test_lsh_bucket_dim_mismatch_raises(spark):
    from desbordante_spark.operators.similarity import lsh_bucket

    df = spark.createDataFrame([(1, [0.1, 0.2, 0.3])],
                               "id int, embedding array<double>")
    with pytest.raises(Exception, match="lsh_bucket"):
        df.select(lsh_bucket("embedding", planes=4, dim=64)).collect()


def test_ivf_centroids_distributed_pick(spark):
    from desbordante_spark.operators.similarity import ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, "vec_id", k=16).collect()
    assert sorted(r["centroid_id"] for r in cents) == list(range(16))
    # no global-window sort of the corpus: plan is TakeOrderedAndProject
    plan = ivf_centroids(emb, "vec_id", k=16)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# -------------------------------------------------- bounded AC driver sample

def test_ac_build_ranges_bounded_collect(spark):
    from desbordante_spark.operators.ac import ac_build_ranges

    rows = [(float(i), 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "a double, b double")
    # cap of 5 -> ranges built from at most 5 sampled values
    ranges = ac_build_ranges(df, "a", "b", op="+", sample_fraction=1.0,
                             weight=0.01, max_sample=5)
    distinct_endpoints = {x for r in ranges for x in r}
    assert 0 < len(ranges) <= 5 and len(distinct_endpoints) <= 10
    # uncapped behavior unchanged when the sample fits under the cap
    full = ac_build_ranges(df, "a", "b", op="+", sample_fraction=1.0,
                           weight=0.5)
    assert full == [(1.0, 1000.0)]


# --------------------------------------------- TANE sketch-prune honesty

def test_discover_fds_approx_adversarial(spark):
    """Seeded adversarial fixture: |π_x| and |π_{x,y}| differ by ~10% — the
    sketch cannot rule the equality out, the exact confirm must reject it;
    exact=False and exact=True must agree."""
    from desbordante_spark.discovery.tane import (
        approx_tolerance,
        discover_fds,
    )

    rows = [(i % 1000, i // 1000, (i % 1000) * 2) for i in range(1100)]
    df = spark.createDataFrame(rows, "x int, y int, z int").cache()
    exact = discover_fds(df, ["x", "y", "z"], max_lhs=1)
    approx = discover_fds(df, ["x", "y", "z"], max_lhs=1, exact=False)
    assert exact == approx
    assert (("x",), "z") in exact       # true FD found by both
    assert (("x",), "y") not in approx  # 10% gap correctly rejected
    # tolerance is rsd-derived, not a magic constant
    assert approx_tolerance(0.05) == pytest.approx(1 - 0.8 / 1.2)
    assert approx_tolerance(0.01) < approx_tolerance(0.05)


# ------------------------------------------------- checkpoint read hardening

def test_runner_checkpoint_corrupt_fails_loudly(spark, tmp_path):
    from desbordante_spark.plans.runner import SuiteRunner

    ck = tmp_path / "ck"
    (ck / "metrics").mkdir(parents=True)
    (ck / "metrics" / "part-0000.parquet").write_bytes(b"this is not parquet")
    r = SuiteRunner(spark, str(ck), "snap1")
    with pytest.raises(Exception):
        r.read_metrics().collect()
    # missing path (first run) still yields the empty frame
    r2 = SuiteRunner(spark, str(tmp_path / "fresh"), "snap1")
    assert r2.read_metrics().count() == 0


# ---------------------------------------------- HyFD hybrid FD discovery

def test_hyfd_matches_tane_small(spark):
    from desbordante_spark.discovery.hyfd import discover_fds_hybrid
    from desbordante_spark.discovery.tane import discover_fds

    rows = [(i % 1000, i // 1000, (i % 1000) * 2, i % 7, "k")
            for i in range(1100)]
    df = spark.createDataFrame(rows, "x int, y int, z int, w int, c string") \
        .cache()
    assert discover_fds_hybrid(df, max_lhs=2) == discover_fds(df, max_lhs=2)


def test_hyfd_matches_tane_testfd(spark, testfd):
    from desbordante_spark.discovery.hyfd import discover_fds_hybrid
    from desbordante_spark.discovery.tane import discover_fds

    cols = [c for c in testfd.columns if c != "row_id"]
    assert (discover_fds_hybrid(testfd, cols, max_lhs=2)
            == discover_fds(testfd, cols, max_lhs=2))


def test_hyfd_wide_table(spark):
    # 14 columns: the full level-2 lattice is ~1.2k candidates; the sampled
    # negative cover must leave the same exact result set
    from pyspark.sql import functions as F

    from desbordante_spark.discovery.hyfd import discover_fds_hybrid
    from desbordante_spark.discovery.tane import discover_fds

    base = spark.range(600).withColumnRenamed("id", "c0")
    df = base
    for i in range(1, 14):
        df = df.withColumn(f"c{i}", (F.col("c0") * (i + 3)) % (7 * i + 2))
    df = df.cache()
    got = discover_fds_hybrid(df, max_lhs=2, max_agree_sets=500)
    want = discover_fds(df, max_lhs=2)
    assert got == want


def test_sample_agree_sets_sound(spark):
    from desbordante_spark.discovery.hyfd import sample_agree_sets

    rows = [(1, "a", 10), (1, "a", 20), (2, "b", 10), (2, "c", 10)]
    df = spark.createDataFrame(rows, "g int, s string, v int")
    sets = sample_agree_sets(df, ["g", "s", "v"])
    # every reported agree set must be witnessed by a real row pair
    for aset, cnt in sets:
        assert cnt > 0
        found = any(
            all((a[i] == b[i]) == (c in aset)
                for i, c in enumerate(["g", "s", "v"]))
            for a in rows for b in rows if a != b
        )
        assert found, aset


# ----------------------------------------- PyroUCC / Pyro-style miners

def test_discover_auccs_bruteforce(spark):
    from desbordante_spark.discovery.aucc import discover_auccs

    rows = [(i % 20, i % 3, f"v{i % 19}") for i in range(40)]
    df = spark.createDataFrame(rows, "a int, b int, c string").cache()
    got = dict(discover_auccs(df, ["a", "b", "c"], max_size=2,
                              max_error=0.02))

    def err(*idx):
        n = len(rows)
        groups = Counter(tuple(r[i] for i in idx) for r in rows)
        return sum(c * (c - 1) for c in groups.values()) / (n * (n - 1))

    cols = {"a": 0, "b": 1, "c": 2}
    singles = {c: err(i) for c, i in cols.items()}
    expect = {}
    for c, e in singles.items():
        if e <= 0.02:
            expect[(c,)] = e
    for x, y in combinations(sorted(cols), 2):
        if singles[x] > 0.02 and singles[y] > 0.02:
            e = err(cols[x], cols[y])
            if e <= 0.02:
                expect[(x, y)] = e
    assert got == pytest.approx(expect)


def test_discover_auccs_sampled_equals_exact(spark):
    from desbordante_spark.discovery.aucc import discover_auccs

    rows = [(i, i % 7, i % 2) for i in range(500)]
    df = spark.createDataFrame(rows, "k int, m int, p int").cache()
    exact = discover_auccs(df, max_size=2, max_error=0.01)
    sampled = discover_auccs(df, max_size=2, max_error=0.01,
                             sample_fraction=0.5)
    assert exact == sampled
    assert (("k",), 0.0) in exact  # the key column, error 0


def test_discover_afds_sampled_equals_exact(spark):
    from desbordante_spark.discovery.pfdtane import discover_afds

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    exact = discover_afds(orders, max_lhs=2, max_error=0.3,
                          error_measure="per_tuple")
    sampled = discover_afds(orders, max_lhs=2, max_error=0.3,
                            error_measure="per_tuple", sample_fraction=0.5)
    assert exact == sampled  # exact errors reported in both paths


# ----------------------------------------- FDep-family (agree-set factory)

def test_compute_agree_sets_bruteforce(spark):
    from desbordante_spark.discovery.fdep import compute_agree_sets

    rows = [
        (1, "a", 10, None), (1, "a", 20, None), (2, "b", 10, "x"),
        (2, "c", 10, "x"), (3, "c", 30, "x"), (1, "a", 10, None),
    ]
    cols = ["g", "s", "v", "t"]
    df = spark.createDataFrame(rows, "g int, s string, v int, t string")
    got, n = compute_agree_sets(df, cols)
    assert n == len(rows)
    expect = Counter()
    for a, b in combinations(rows, 2):
        aset = frozenset(c for i, c in enumerate(cols) if a[i] == b[i])
        if aset:
            expect[aset] += 1
    assert dict(got) == dict(expect)


def test_discover_fds_fdep_equals_tane(spark):
    from desbordante_spark.discovery.fdep import discover_fds_fdep
    from desbordante_spark.discovery.tane import discover_fds

    # constants, keys, duplicates, nulls, and a real FD (d = f(b))
    rows = [(i, i % 4, "const", f"v{(i % 4) * 2}", i % 2) for i in range(24)]
    rows += [rows[0]]  # duplicate row: no column set is a key
    df = spark.createDataFrame(rows, "a int, b int, c string, d string, e int")
    assert discover_fds_fdep(df, max_lhs=2) == discover_fds(df, max_lhs=2)

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    assert discover_fds_fdep(orders, max_lhs=2) == discover_fds(
        orders, max_lhs=2
    )


def test_fdep_wide_table_guard(spark):
    # wide='error' keeps the hard lattice-width guard; the DEFAULT is now
    # wide='pairwise' (round 6) so 18+-column tables run out of the box —
    # see tests/test_round6.py for the default-path equivalence test
    from desbordante_spark.discovery.fdep import discover_fds_fdep

    df = spark.createDataFrame(
        [tuple(range(20))], ", ".join(f"c{i} int" for i in range(20))
    )
    with pytest.raises(ValueError, match="discover_fds_hybrid"):
        discover_fds_fdep(df, max_columns=16, wide="error")


# ----------------------------------------- DFD random-walk discovery

def test_discover_fds_dfd_equals_tane(spark):
    from desbordante_spark.discovery.dfd import discover_fds_dfd
    from desbordante_spark.discovery.tane import discover_fds

    rows = [(i, i % 4, "const", f"v{(i % 4) * 2}", i % 2) for i in range(24)]
    rows += [rows[0]]
    df = spark.createDataFrame(rows, "a int, b int, c string, d string, e int")
    st = {}
    assert discover_fds_dfd(df, max_lhs=2, stats=st) == discover_fds(
        df, max_lhs=2
    )
    assert 0 < st["checked_nodes"] <= st["lattice_nodes"]

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    tane = discover_fds(orders, max_lhs=2)
    # exact and deterministic under any seed
    assert discover_fds_dfd(orders, max_lhs=2, seed=1) == tane
    assert discover_fds_dfd(orders, max_lhs=2, seed=99) == tane


def test_hyfd_skips_lattice_on_wide_table(spark):
    # the hybrid's reason to exist: on the 11-column lineitem the sampled
    # negative cover leaves a small fraction of the level-<=2 lattice for
    # exact validation (measured ~72/605; TANE validates all 605)
    from desbordante_spark.discovery.hyfd import discover_fds_hybrid

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    st = {}
    discover_fds_hybrid(li, max_lhs=2, stats=st)
    assert st["validated_candidates"] < st["full_lattice_candidates"] / 3


# -------------------------------------- review regressions (round 3)

def test_fdep_empty_negative_cover(spark):
    # the only pair differing on a column can agree on NOTHING — the empty
    # agree set never enters the cover but still refutes the ∅ candidate
    from desbordante_spark.discovery.fdep import discover_fds_fdep
    from desbordante_spark.discovery.tane import discover_fds
    from desbordante_spark.discovery.dfd import discover_fds_dfd

    df = spark.createDataFrame([(1, 1), (2, 2), (1, 1)], "x int, a int")
    expect = discover_fds(df, max_lhs=2)
    assert expect == [(("a",), "x"), (("x",), "a")]
    assert discover_fds_fdep(df, max_lhs=2) == expect
    assert discover_fds_dfd(df, max_lhs=2) == expect


def test_miners_on_empty_dataframe(spark):
    from desbordante_spark.discovery.aucc import discover_auccs
    from desbordante_spark.discovery.fdep import discover_fds_fdep
    from desbordante_spark.discovery.pfdtane import discover_afds
    from desbordante_spark.discovery.tane import discover_fds

    df = spark.createDataFrame([], "a int, b int")
    assert discover_auccs(df, max_size=2, max_error=0.0) == [
        (("a",), 0.0), (("b",), 0.0)
    ]
    assert discover_fds_fdep(df, max_lhs=2) == discover_fds(df, max_lhs=2)
    afds = discover_afds(df, max_lhs=1, max_error=0.0)
    assert afds == [((), "a", 0.0), ((), "b", 0.0)]


def test_streaming_referential_arity_guard(spark):
    from desbordante_spark.streaming.stream_verify import (
        streaming_referential_alerts,
    )

    dim = spark.createDataFrame([("a", "b")], "d1 string, d2 string")
    fact = spark.createDataFrame([("a",)], "k1 string")
    with pytest.raises(ValueError, match="arity"):
        streaming_referential_alerts(fact, ["k1"], dim, ["d1", "d2"])


# ---------------------------------- review regressions (earlier r3 work)

def test_ac_ranges_cover_duplicate_heavy_values(spark):
    # ranking raw rows by md5(value) would keep only the smallest-md5
    # values of a duplicate-heavy column; distinct-value sampling must
    # cover every cluster
    from desbordante_spark.operators.ac import ac_build_ranges

    rows = [(float(v), 0.0) for v in (10, 20, 30, 40, 50) for _ in range(500)]
    df = spark.createDataFrame(rows, "a double, b double")
    ranges = ac_build_ranges(df, "a", "b", "+", sample_fraction=1.0,
                             weight=0.05, max_sample=100)
    covered = [v for v in (10, 20, 30, 40, 50)
               if any(lo <= v <= hi for lo, hi in ranges)]
    assert covered == [10, 20, 30, 40, 50]


def test_discover_ods_vacuous_candidate_does_not_hold(spark):
    from desbordante_spark.discovery.order import discover_ods

    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "a int, s string"
    )
    rows = discover_ods(df, ["a", "s"], directions=("asc",)).collect()
    vac = [r for r in rows if r["total_groups"] == 0]
    assert vac and all(r["holds"] == 0 for r in vac)


def test_discover_ods_auto_no_candidates(spark):
    from desbordante_spark.discovery.order import discover_ods_auto

    df = spark.createDataFrame([(1, 2)], "a int, g int")
    out = discover_ods_auto(df, ["a"], ["g"])  # single column: no pairs
    assert out.count() == 0
    assert out.columns[:4] == ["context", "lhs", "rhs", "direction"]


def test_lsh_bucket_null_embedding_gets_null_bucket(spark):
    from desbordante_spark.operators.similarity import lsh_bucket
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)],
        "id int, embedding array<double>",
    )
    rows = df.select(
        "id", lsh_bucket("embedding", planes=2, dim=2).alias("b")
    ).collect()
    got = {r["id"]: r["b"] for r in rows}
    assert got[1] is not None and got[2] is None


def test_dot_parser_directed_edges_and_strictness(spark):
    from desbordante_spark.sources.graph_dot import parse_dot_graph

    v, e = parse_dot_graph(
        'digraph G {0[label=a];1[label=b];2;0->1;1--2[label=t];}'
        .replace(";", ";\n")
    )
    assert {x["vertex_id"] for x in v} == {"0", "1", "2"}
    assert ("0", "1", None) in e and ("1", "2", "t") in e
    with pytest.raises(ValueError, match="unparseable"):
        parse_dot_graph("graph G {\n 0 [label=a];\n 0 => 1;\n}")


def test_gfd_literal_parsing_decimals_and_spaces(spark):
    from desbordante_spark.sources.graph_dot import _parse_literal_line

    lits = _parse_literal_line("0.price=19.99  1.kind=x ")
    assert lits == [(("0", "price"), "19.99"), (("1", "kind"), "x")]


def test_ivf_refined_centroids_recall(spark):
    """Lloyd refinement of the IVF quantizer must not hurt recall on the
    fixture (typically improves it on clustered data); refined centroids
    keep exactly n_centroids rows with dense ids."""
    from pyspark.sql import functions as F

    from desbordante_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, "vec_id", k=8, refine_iters=2)
    rows = cents.collect()
    assert sorted(r["centroid_id"] for r in rows) == list(range(8))
    assert all(len(r["cvec"]) == 64 for r in rows)

    queries = emb.filter(F.col("vec_id") < 10)

    def topsets(df):
        out = defaultdict(set)
        for r in df.collect():
            out[r["query_id"]].add(r["neighbor_id"])
        return out

    exact = topsets(cosine_topk_bruteforce(queries, emb, "vec_id", "vec_id",
                                           k=10))
    plain = topsets(cosine_topk_ivf(queries, emb, "vec_id", "vec_id", k=10,
                                    n_centroids=16, nprobe=4))
    refined = topsets(cosine_topk_ivf(queries, emb, "vec_id", "vec_id",
                                      k=10, n_centroids=16, nprobe=4,
                                      refine_iters=2))
    r_plain = sum(len(exact[q] & plain[q]) for q in exact) / (10 * len(exact))
    r_ref = sum(len(exact[q] & refined[q]) for q in exact) / (10 * len(exact))
    print(f"IVF recall@10: seeds={r_plain:.3f} refined={r_ref:.3f}")
    assert r_ref >= r_plain - 0.05  # refinement must not collapse recall
    assert r_ref >= 0.45


# ----------------------------------------- FUN free-set discovery

def test_discover_fds_fun_equals_tane(spark):
    from desbordante_spark.discovery.fun import discover_fds_fun
    from desbordante_spark.discovery.tane import discover_fds

    rows = [(i, i % 4, "const", f"v{(i % 4) * 2}", i % 2) for i in range(24)]
    rows += [rows[0]]  # duplicate row: no column set is a key
    df = spark.createDataFrame(rows, "a int, b int, c string, d string, e int")
    st = {}
    assert (discover_fds_fun(df, max_lhs=2, stats=st)
            == discover_fds(df, max_lhs=2))
    assert st["jobs"] <= 4  # count + level-1 + two extension jobs

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    assert discover_fds_fun(orders, max_lhs=2) == discover_fds(
        orders, max_lhs=2
    )


def test_discover_fds_fun_golden_testfd(spark, testfd):
    from desbordante_spark.discovery.fun import discover_fds_fun
    from desbordante_spark.discovery.tane import discover_fds

    cols = [f"Col{i}" for i in range(6)]
    assert (discover_fds_fun(testfd, cols, max_lhs=3)
            == discover_fds(testfd, cols, max_lhs=3))


def test_fun_free_set_prune_shrinks_lattice(spark):
    from desbordante_spark.discovery.fun import discover_fds_fun

    # b == c == d pairwise-equivalent: every 2+-set mixing them is
    # non-free, so the level-2/3 lattice above the trio must vanish.
    rows = [(i, i % 5, i % 5, i % 5, (i * 7) % 3) for i in range(40)]
    df = spark.createDataFrame(rows, "a int, b int, c int, d int, e int")
    st = {}
    fds = discover_fds_fun(df, max_lhs=3, stats=st)
    assert (("b",), "c") in fds and (("c",), "b") in fds
    # full lattice would count C(5,1)+C(5,2)+C(5,3) = 25 LHS sets plus
    # extensions; the free-set prune must stay well under that
    assert st["free_sets"] <= 12
    assert all(not ({"b", "c", "d"} <= set(lhs)) for lhs, _ in fds)


def test_bare_string_column_args_ok(spark, testfd):
    """A bare string column-set arg must mean ONE column, not be iterated
    character-by-character (as_cols normalization at every verifier)."""
    from desbordante_spark.operators.fd import fd_verify
    from desbordante_spark.operators.ucc import ucc_verify

    a = fd_verify(testfd, "Col0", "Col1")
    b = fd_verify(testfd, ["Col0"], ["Col1"])
    assert (a.holds, a.error) == (b.holds, b.error)
    u = ucc_verify(testfd, "Col5")
    v = ucc_verify(testfd, ["Col5"])
    assert (u.holds, u.num_violating_clusters) == (v.holds, v.num_violating_clusters)


# ----------------------------------------- AID-FD sample-only discovery

def test_discover_fds_aid_generalization_guarantee(spark):
    from desbordante_spark.discovery.aid import discover_fds_aid
    from desbordante_spark.discovery.tane import discover_fds

    rows = [(i, i % 4, "const", f"v{(i % 4) * 2}", i % 2) for i in range(24)]
    rows += [rows[0]]
    df = spark.createDataFrame(rows, "a int, b int, c string, d string, e int")
    st = {}
    aid = discover_fds_aid(df, max_lhs=2, stats=st)
    true = discover_fds(df, max_lhs=2)
    # refutation soundness: every true minimal FD is reported, possibly
    # with a more general (subset) LHS
    for lhs, rhs in true:
        assert any(r == rhs and set(l) <= set(lhs) for l, r in aid), (lhs, rhs)
    assert st["rounds"] >= 1 and st["agree_sets"] > 0
    # deterministic: identical output on a second run
    assert aid == discover_fds_aid(df, max_lhs=2)


def test_discover_fds_aid_converges_to_exact_on_small(spark, testfd):
    from desbordante_spark.discovery.aid import discover_fds_aid
    from desbordante_spark.discovery.tane import discover_fds

    cols = [f"Col{i}" for i in range(6)]
    st = {}
    aid = discover_fds_aid(testfd, cols, max_lhs=2, max_rounds=12, stats=st)
    true = discover_fds(testfd, cols, max_lhs=2)
    for lhs, rhs in true:
        assert any(r == rhs and set(l) <= set(lhs) for l, r in aid)
    # no fabricated RHS directions: every reported rhs with empty lhs is
    # a real constant
    consts = {r for l, r in true if l == ()}
    assert {r for l, r in aid if l == ()} == consts


# ----------------------------------------- schema/type inference

def test_type_profile_deduction(spark):
    """Mirrors typed_column_data.cpp:24-81 candidate narrowing: int+double
    → double, undelimited dates alone → date, undelimited+int → int,
    int+string → mixed, all null/empty → undefined, 20+-digit → bigint."""
    from desbordante_spark.operators.schema_infer import type_profile

    rows = [
        ("1",  "1.5", "2004-01-01", "20040101", "abc", "NULL",
         "12345678901234567890123", "20040101"),
        ("2",  "2",   "1999-12-31", "20051231", "7",   "",
         "4",                       "99"),
        ("-3", "3e2", "2000-02-29", "19990101", "x",   "NULL",
         "9",                       "19990101"),
    ]
    df = spark.createDataFrame(
        rows, "a string, b string, c string, d string, e string, "
              "f string, g string, h string")
    got = {r["column"]: r.asDict() for r in type_profile(df).collect()}
    assert got["a"]["inferred_type"] == "int"
    assert got["b"]["inferred_type"] == "double"
    assert got["c"]["inferred_type"] == "date"
    assert got["d"]["inferred_type"] == "date"     # undelimited-only
    assert got["e"]["inferred_type"] == "mixed"
    assert got["f"]["inferred_type"] == "undefined"
    assert (got["f"]["n_null"], got["f"]["n_empty"]) == (2, 1)
    assert got["g"]["inferred_type"] == "bigint"
    assert got["h"]["inferred_type"] == "int"      # udate ∩ int = numeric
    assert got["h"]["n_date"] == 2 and got["h"]["n_int"] == 1
    # typed (non-string) input columns profile via their canonical cast
    ints = spark.createDataFrame([(1, 2.5)], "x int, y double")
    got2 = {r["column"]: r["inferred_type"]
            for r in type_profile(ints).collect()}
    assert got2["x"] == "int" and got2["y"] == "double"


def test_central_and_standardized_moments(spark):
    """data_stats.cpp:90-146 parity: m_k = Σ(x−μ)^k/n, Bessel m_2 feeds
    the corrected STD, standardized m_3 is the reference skewness."""
    import statistics as st

    from desbordante_spark.operators.stats import (
        central_moment,
        standardized_moment,
    )

    xs = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0]
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    mu = sum(xs) / len(xs)
    m2 = sum((x - mu) ** 2 for x in xs) / len(xs)
    m3 = sum((x - mu) ** 3 for x in xs) / len(xs)
    assert abs(central_moment(df, "v", 2) - m2) < 1e-9
    assert abs(central_moment(df, "v", 3) - m3) < 1e-9
    bessel2 = sum((x - mu) ** 2 for x in xs) / (len(xs) - 1)
    assert abs(central_moment(df, "v", 2, bessel_correction=True)
               - bessel2) < 1e-9
    assert abs(standardized_moment(df, "v", 3)
               - m3 / st.stdev(xs) ** 3) < 1e-9
    one = spark.createDataFrame([(5.0,)], "v double")
    assert central_moment(one, "v", 2, bessel_correction=True) != \
        central_moment(one, "v", 2, bessel_correction=True)  # NaN


def test_type_profile_reference_goldens(spark):
    """Transplants the reference's type-deduction golden suite
    (src/tests/test_typed_column_data.cpp TypeSystem/TestTypeParsing) for
    every fixture CSV present in the repo's reference checkout."""
    from desbordante_spark.operators.schema_infer import type_profile

    goldens = {
        "WDC_appearances.csv": ["string", "mixed", "double"],
        "WDC_age.csv": ["string", "string", "string"],
        "WDC_kepler.csv": ["string", "double", "double", "double"],
        "WDC_satellites.csv": ["string", "string", "mixed", "mixed",
                               "mixed", "string", "string", "string"],
        "CIPublicHighway700.csv": ["string", "string", "int", "int", "int",
                                   "int", "int", "undefined", "undefined",
                                   "undefined", "undefined", "int", "int",
                                   "int", "int", "int", "undefined",
                                   "undefined"],
        "SimpleTypes.csv": ["undefined", "undefined", "undefined", "int",
                            "string", "double", "bigint", "double",
                            "bigint", "mixed", "int"],
        "ACShippingDates.csv": ["mixed", "date", "date"],
        "SimpleTypes1.csv": ["int", "string", "double", "mixed", "int",
                             "date", "mixed"],
    }
    base = "test_input_data"
    for fname, expected in goldens.items():
        df = (
            spark.read.option("header", "true")
            .option("quote", '"')
            .option("escape", '"')   # RFC4180 doubled-quote escaping
            .csv(reference_path(f"{base}/{fname}"))
        )
        assert len(df.columns) == len(expected), fname
        got = {r["column"]: r["inferred_type"]
               for r in type_profile(df).collect()}
        for col, want in zip(df.columns, expected):
            assert got[col] == want, (fname, col, got[col], want)


def test_discover_afds_g1_measure(spark, testfd):
    """g1 AFD mining must agree with the verifier's g1 on every reported
    candidate, and with exact FD discovery at error 0."""
    from desbordante_spark.discovery.pfdtane import discover_afds
    from desbordante_spark.discovery.tane import discover_fds
    from desbordante_spark.operators.fd import fd_verify

    cols = [f"Col{i}" for i in range(6)]
    strict = discover_afds(testfd, cols, max_lhs=2, max_error=0.0,
                           error_measure="g1")
    assert sorted((l, r) for l, r, _ in strict) == discover_fds(
        testfd, cols, max_lhs=2)
    loose = discover_afds(testfd, cols, max_lhs=2, max_error=0.1,
                          error_measure="g1")
    assert len(loose) >= len(strict)
    for lhs, rhs, err in loose:
        if not lhs:
            continue
        v = fd_verify(testfd, list(lhs), [rhs])
        assert abs(v.error - err) < 1e-12, (lhs, rhs)
        assert err <= 0.1
