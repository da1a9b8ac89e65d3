"""The desbordante-compatible facade (desbordante_spark/compat.py) replayed
against the reference's own example flows (/root/reference/examples/*.py)
and the README's documented golden output."""

from __future__ import annotations

import pytest
from conftest import reference_path

DS = "examples/datasets"


def _ds(name):
    return reference_path(f"{DS}/{name}")


@pytest.fixture(autouse=True)
def _reuse_session(spark):
    # compat creates a session lazily via get_spark(); the fixture session
    # is the same singleton, so every facade call reuses it
    yield


def _norm(s):
    lhs, rhs = s.split("] -> ")
    return (frozenset(lhs[1:].split()), rhs)


def test_compat_fd_mining_readme_golden():
    """README.md:62-85 — mining_fd.py on university_fd.csv prints exactly
    these seven FDs (key LHS included)."""
    import desbordante_spark.compat as desbordante

    algo = desbordante.fd.algorithms.Default()
    algo.load_data(table=(_ds("university_fd.csv"), ",", True))
    algo.execute()
    got = {_norm(str(f)) for f in algo.get_fds()}
    want = {
        _norm(s) for s in [
            "[Course Classroom] -> Professor",
            "[Classroom Semester] -> Professor",
            "[Classroom Semester] -> Course",
            "[Professor] -> Course",
            "[Professor Semester] -> Classroom",
            "[Course Semester] -> Classroom",
            "[Course Semester] -> Professor",
        ]
    }
    assert got == want
    # every strategy class agrees
    for cls in (desbordante.fd.algorithms.Tane,
                desbordante.fd.algorithms.FUN,
                desbordante.fd.algorithms.FDep):
        a = cls()
        a.load_data(table=(_ds("university_fd.csv"), ",", True))
        a.execute()
        assert {_norm(str(f)) for f in a.get_fds()} == want, cls


def test_compat_ucc_verification():
    """verifying_ucc.py flow: First Name (index 1) is not unique."""
    import desbordante_spark.compat as desbordante

    v = desbordante.ucc_verification.algorithms.Default()
    v.load_data(table=(_ds("actors_and_actress.csv"), ",", True))
    v.execute(ucc_indices=[1])
    assert not v.ucc_holds()
    assert v.get_num_clusters_violating_ucc() >= 1
    assert v.get_num_rows_violating_ucc() >= 2
    clusters = v.get_clusters_violating_ucc()
    assert clusters and all(len(c) >= 2 for c in clusters)
    # row ids are 0-based file positions, ascending
    assert all(c == sorted(c) for c in clusters)
    # Person ID (index 0) IS unique
    u = desbordante.ucc_verification.algorithms.Default()
    u.load_data(table=(_ds("actors_and_actress.csv"), ",", True))
    u.execute(ucc_indices=[0])
    assert u.ucc_holds()


def test_compat_fd_afd_verification():
    import desbordante_spark.compat as desbordante

    fv = desbordante.afd_verification.algorithms.Default()
    fv.load_data(table=(_ds("university_fd.csv"), ",", True))
    fv.execute(lhs_indices=[0], rhs_indices=[1])  # Course -> Classroom
    assert not fv.fd_holds()
    assert 0 < fv.get_error() < 1
    assert fv.get_num_error_clusters() >= 1
    assert fv.get_highlights()


def test_compat_ar_mining():
    import desbordante_spark.compat as desbordante

    ar = desbordante.ar.algorithms.Default()
    ar.load_data(table=(_ds("rules_book.csv"), ",", False))
    ar.execute(minsup=0.4, minconf=0.6, input_format="singular")
    rules = ar.get_ars()
    assert rules and all(0.6 <= r.confidence <= 1.0 for r in rules)
    assert "Bread" in ar.get_itemnames()


def test_compat_mfd_verification():
    import desbordante_spark.compat as desbordante

    mv = desbordante.mfd_verification.algorithms.Default()
    mv.load_data(table=(_ds("theatres_mfd.csv"), ",", True))
    mv.execute(lhs_indices=[0], rhs_indices=[2], parameter=5.0)
    assert isinstance(mv.mfd_holds(), bool)


def test_compat_dd_mining_difference_table():
    """mining_dd.py flow: dd.Split now runs the FAITHFUL full search
    (difference-table spaces, instance-exclusion reduce, minimal cover);
    the three DDs the reference walkthrough explains must be mined with
    exactly the reference's DDString rendering."""
    import desbordante_spark.compat as desbordante

    dd = desbordante.dd.algorithms.Split()
    dd.load_data(table=(_ds("flights_dd.csv"), ",", True))
    dd.execute(difference_table=(_ds("flights_dd_dif_table.csv"), ",", True))
    dds = dd.get_dds()
    assert all(d.lo <= d.hi for d in dds)
    rendered = {str(d) for d in dds}
    assert {
        "Departure [0, 0] ; Arrival [0, 0] -> Distance [0, 50]",
        "Distance [0, 50] -> Duration [0, 15]",
        "Departure [0, 3] ; Arrival [0, 3] -> Duration [0, 15]",
    } <= rendered


def test_compat_afd_mining():
    import desbordante_spark.compat as desbordante

    afd = desbordante.afd.algorithms.Tane()
    afd.load_data(table=(_ds("inventory_afd.csv"), ",", True))
    afd.execute(error=0.1)
    fds = afd.get_fds()
    assert fds and all(f.error <= 0.1 for f in fds)
    # Pyro (sampled two-phase) returns the same AFD set
    pyro = desbordante.afd.algorithms.Pyro()
    pyro.load_data(table=(_ds("inventory_afd.csv"), ",", True))
    pyro.execute(error=0.1)
    assert {(f.lhs, f.rhs) for f in pyro.get_fds()} == \
        {(f.lhs, f.rhs) for f in fds}


def test_compat_afd_readme_golden():
    """README example 2: inventory_afd at error 0.1 yields exactly
    [Id] -> Price, [Id] -> ProductName, [ProductName] -> Price."""
    import desbordante_spark.compat as desbordante

    algo = desbordante.afd.algorithms.Default()
    algo.load_data(table=(_ds("inventory_afd.csv"), ",", True))
    algo.execute(error=0.1)
    assert sorted(str(f) for f in algo.get_fds()) == [
        "[Id] -> Price",
        "[Id] -> ProductName",
        "[ProductName] -> Price",
    ]


def test_compat_afd_iris_pandas_readme_golden():
    """README example 4: Pyro over a pandas DataFrame (iris, no header) at
    several error thresholds — golden FD sets, compared order-free."""
    import pandas as pd

    import desbordante_spark.compat as desbordante

    pyro = desbordante.afd.algorithms.Pyro()
    df = pd.read_csv(_ds("iris.csv"), sep=",", header=None)
    pyro.load_data(table=df)

    def got(error):
        pyro.execute(error=error, max_lhs=3)
        return {str(f) for f in pyro.get_fds()}

    assert got(0.0) == {"[0 1 2] -> 4", "[0 2 3] -> 4", "[0 1 3] -> 4",
                        "[1 2 3] -> 4"}
    assert got(0.1) == {
        "[2] -> 0", "[2] -> 3", "[2] -> 1", "[0] -> 2", "[3] -> 0",
        "[0] -> 3", "[0] -> 1", "[1] -> 3", "[1] -> 0", "[3] -> 2",
        "[3] -> 1", "[1] -> 2", "[2] -> 4", "[3] -> 4", "[0] -> 4",
        "[1] -> 4"}


def test_compat_dynamic_fd_verification():
    """dynamic_verifying_fd.py protocol: insert new rows, update rows by
    id, delete by id — each state verdict equals a from-scratch verify of
    the mutated table."""
    import pandas as pd

    import desbordante_spark.compat as desbordante

    data = pd.DataFrame(
        [["a", "x"], ["a", "x"], ["b", "y"], ["c", "z"]],
        columns=["L", "R"],
    )
    v = desbordante.dynamic_fd_verification.algorithms.Default()
    v.load_data(table=data, lhs_indices=[0], rhs_indices=[1])
    assert v.fd_holds()

    # insert a conflicting row: L=a -> R=q breaks the FD
    v.execute(insert=pd.DataFrame([["a", "q"]], columns=["L", "R"]))
    assert not v.fd_holds() and v.get_error() > 0

    # the inserted row got id 4 (continues after max); update it to agree
    v.execute(update=pd.DataFrame([["a", "x"]], columns=["L", "R"],
                                  index=[4]))
    assert v.fd_holds()

    # delete two of the L=a rows; still holds
    v.execute(delete={0, 4})
    assert v.fd_holds()
    # now break it again and verify the error matches a fresh verify
    v.execute(insert=pd.DataFrame([["b", "w"]], columns=["L", "R"]))
    assert not v.fd_holds()
    from desbordante_spark.operators.fd import fd_verify
    from desbordante_spark.session import get_spark

    cur = v._pdf[["L", "R"]]
    fresh = fd_verify(get_spark().createDataFrame(cur), ["L"], ["R"])
    assert abs(v.get_error() - fresh.error) < 1e-12


def test_compat_data_stats():
    """data_stats.py flow on the reference's Workshop.csv: numeric columns
    recovered by type inference, getter surface live."""
    import desbordante_spark.compat as desbordante

    ds = desbordante.statistics.algorithms.Default()
    ds.load_data(table=(_ds("Workshop.csv"), ",", True))
    ds.execute()
    n = ds.get_number_of_columns()
    assert n >= 3
    # at least one numeric column got real numeric stats
    stats = [(i, ds.get_average(i)) for i in range(n)]
    numeric = [i for i, a in stats if a is not None]
    assert numeric
    i = numeric[0]
    assert ds.get_corrected_std(i) is not None
    assert float(ds.get_min(i)) <= float(ds.get_max(i))
    assert ds.get_median(i) is not None
    assert ds.get_number_of_distinct(i) > 0
    # string-side getters
    j = next(i for i, a in stats if a is None)
    assert ds.get_max_number_of_chars(j) >= ds.get_min_number_of_chars(j)
    assert ds.get_vocab(j)
    assert ds.get_words(j)
    assert isinstance(ds.get_columns_with_null(), list)
    assert isinstance(ds.get_columns_with_all_unique_values(), list)


def test_compat_ind_mining():
    """mining_ind.py flow: Spider over several tables at once."""
    import desbordante_spark.compat as desbordante

    ind = desbordante.ind.algorithms.Default()
    ind.load_data(tables=[
        (_ds("ind_datasets/course.csv"), ",", True),
        (_ds("ind_datasets/department.csv"), ",", True),
        (_ds("ind_datasets/instructor.csv"), ",", True),
    ])
    ind.execute()
    inds = ind.get_inds()
    assert inds
    # course.dept_name ⊆ department.dept_name is a textbook IND here
    pairs = {(r["lhs"], r["rhs"]) for r in inds}
    assert any("course" in l and "department" in r for l, r in pairs)


def test_compat_od_mining():
    """mining_set_od flow: Fastod over the salary table — higher grade
    orders higher salary within a year."""
    import desbordante_spark.compat as desbordante

    od = desbordante.od.algorithms.Fastod()
    od.load_data(table=(_ds("salary.csv"), ",", True))
    od.execute()
    # canonical reference forms (1-based indices: 1=year,
    # 2=employee_grade, 3=avg_salary): within each year, higher grade
    # orders higher salary
    assert "{1} : 2<= ~ 3<=" in od.get_asc_ods()
    simple = od.get_simple_ods()
    assert simple and any(s.endswith("-> 3<=") for s in simple)


def test_compat_cfd_mining():
    """mining_cfd.py flow: FDFirst over play_tennis."""
    import desbordante_spark.compat as desbordante

    cfd = desbordante.cfd.algorithms.Default()
    cfd.load_data(table=(_ds("play_tennis.csv"), ",", True))
    cfd.execute(minsup=4, minconf=0.9, max_lhs=2)
    rules = cfd.get_cfds()
    assert rules
    # the classic golden: overcast always plays
    assert any("Outlook=overcast" in r and "Play" in r for r in rules)


def test_compat_ucc_mining():
    import desbordante_spark.compat as desbordante

    u = desbordante.ucc.algorithms.Default()
    u.load_data(table=(_ds("actors_and_actress.csv"), ",", True))
    u.execute(max_lhs=2)
    uccs = u.get_uccs()
    assert any(x.lhs == ("Person ID",) for x in uccs)


def test_compat_gfd_verification():
    """verifying_gfd1.py flow: the correct-author GFD holds on the blogs
    graph and fails on the incorrect-author variant (reference signals
    holds via get_gfds() membership)."""
    import desbordante_spark.compat as desbordante

    base = "examples/verifying_gfd/datasets"
    gfd = reference_path(f"{base}/gfds/correct_author_gfd.dot")
    algo = desbordante.gfd_verification.algorithms.EGfdValid()
    algo.load_data(gfd=[gfd],
                   graph=reference_path(f"{base}/graphs/blogs_graph.dot"))
    algo.execute()
    assert len(algo.get_gfds()) == 1

    bad = desbordante.gfd_verification.algorithms.EGfdValid()
    bad.load_data(gfd=[gfd], graph=reference_path(
        f"{base}/graphs/incorrect_author_blogs_graph.dot"))
    bad.execute()
    assert len(bad.get_gfds()) == 0


def test_compat_ac_mining():
    """algebraic_constraints.py flow: ranges for (Delivery - Dispatch),
    exceptions as row-indexed objects."""
    import pandas as pd

    import desbordante_spark.compat as desbordante

    df = pd.read_csv(_ds("cargo_march.csv"), sep=",", header=0)
    algo = desbordante.ac.algorithms.Default()
    algo.load_data(table=df[["Delivery date", "Dispatch date"]])
    algo.execute(bin_operation="-", weight=0.1, ac_seed=11,
                 p_fuzz=0.85, fuzziness=0.2, bumps_limit=0,
                 iterations_limit=4)
    ranges = algo.get_ac_ranges()
    assert len(ranges) == 1 and ranges[0].column_indices == (0, 1)
    assert ranges[0].ranges and all(lo <= hi for lo, hi in ranges[0].ranges)
    for exc in algo.get_ac_exceptions():
        assert exc.row_index >= 0
        assert not any(lo <= exc.value <= hi for lo, hi in ranges[0].ranges)


def test_compat_typo_mining_flow():
    """mine_typos.py core (lines 186-191): almost-holding FDs = the
    approximate miner's result minus the exact miner's — requires FD/AFD
    set algebra across miner classes, and each almost-FD must truly have
    0 < g1 error <= the threshold."""
    import pandas as pd

    import desbordante_spark.compat as desbordante

    df = pd.read_csv(_ds("Workshop.csv"), sep=",", header=0)
    exact = desbordante.fd.algorithms.Default()
    exact.load_data(table=df)
    exact.execute(max_lhs=2)
    holding = set(exact.get_fds())

    approx = desbordante.afd.algorithms.Default()
    approx.load_data(table=df)
    approx.execute(error=0.005, max_lhs=2)
    close = set(approx.get_fds())

    almost = close - holding
    assert almost, "Workshop.csv has its documented near-FDs (typos)"
    for fd in almost:
        assert isinstance(fd.error, float) and 0 < fd.error <= 0.005
    # exact FDs are a subset of the 0.005-error AFDs
    assert holding <= close
