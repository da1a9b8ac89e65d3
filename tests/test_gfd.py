"""GFD verification goldens (naivegfd_validation.cpp semantics on small
hand-checked graphs: every isomorphic embedding satisfying the premises must
satisfy the conclusion; a missing attribute falsifies its literal)."""

from __future__ import annotations

import pytest
from conftest import reference_path

from desbordante_spark.operators.gfd import (
    gfd_matches,
    gfd_metrics_df,
    gfd_verify,
    gfd_violations,
)


@pytest.fixture(scope="module")
def graph(spark):
    # two persons per city-pair edge; p1/p2 in same city, p3 elsewhere,
    # p4 has no city attribute (NULL)
    v = spark.createDataFrame(
        [
            ("p1", "person", "berlin"),
            ("p2", "person", "berlin"),
            ("p3", "person", "tokyo"),
            ("p4", "person", None),
        ],
        "vertex_id string, label string, city string",
    )
    e = spark.createDataFrame(
        [
            ("p1", "p2", "knows"),
            ("p2", "p3", "knows"),
            ("p1", "p4", "knows"),
            ("p1", "p3", "likes"),
        ],
        "src string, dst string, label string",
    )
    return v.cache(), e.cache()


def test_gfd_matches_undirected_and_label_filter(graph):
    v, e = graph
    m = gfd_matches(
        v, e, {"a": "person", "b": "person"}, [("a", "b", "knows")]
    ).collect()
    # undirected: each knows-edge matches twice (a,b) and (b,a)
    pairs = {(r["a__id"], r["b__id"]) for r in m}
    assert ("p1", "p2") in pairs and ("p2", "p1") in pairs
    assert ("p1", "p3") not in pairs  # wrong label (likes)
    assert len(pairs) == 6


def test_gfd_holds_and_violations(graph):
    v, e = graph
    # premise a.city=berlin ⇒ conclusion b.city=berlin over knows-edges:
    # violated by (p2,p3) (berlin → tokyo) and (p1,p4) (missing attr → false)
    res = gfd_verify(
        v, e, {"a": "person", "b": "person"}, [("a", "b", "knows")],
        premises=[(("a", "city"), "berlin")],
        conclusion=[(("b", "city"), "berlin")],
    )
    assert not res.holds
    viol = {(r["a__id"], r["b__id"]) for r in res.violations.collect()}
    assert viol == {("p2", "p3"), ("p1", "p4")}
    # var-var literal: a.city = b.city as premise — conclusion constant true
    res2 = gfd_verify(
        v, e, {"a": "person", "b": "person"}, [("a", "b", "knows")],
        premises=[(("a", "city"), ("b", "city"))],
        conclusion=[("x", "x")],
    )
    assert res2.holds
    assert res2.details["premise_matches"] == 2  # (p1,p2) both directions


def test_gfd_triangle_closing_edge(spark):
    v = spark.createDataFrame(
        [("a", "n", None), ("b", "n", None), ("c", "n", None),
         ("d", "n", None)],
        "vertex_id string, label string, city string",
    )
    e = spark.createDataFrame(
        [("a", "b", "e"), ("b", "c", "e"), ("c", "a", "e"), ("c", "d", "e")],
        "src string, dst string, label string",
    )
    m = gfd_matches(
        v, e, {"x": None, "y": None, "z": None},
        [("x", "y", "e"), ("y", "z", "e"), ("z", "x", "e")],
    ).collect()
    tris = {frozenset((r["x__id"], r["y__id"], r["z__id"])) for r in m}
    assert tris == {frozenset(("a", "b", "c"))}  # d is in no triangle
    assert len(m) == 6  # 3! orientations of the one triangle


def test_gfd_injectivity(spark):
    # homomorphism would map x and z to the same vertex; isomorphism must not
    v = spark.createDataFrame(
        [("a", "n", None), ("b", "n", None)],
        "vertex_id string, label string, city string",
    )
    e = spark.createDataFrame(
        [("a", "b", "e")], "src string, dst string, label string"
    )
    m = gfd_matches(
        v, e, {"x": None, "y": None, "z": None},
        [("x", "y", "e"), ("y", "z", "e")],
    ).collect()
    assert m == []  # path of length 2 needs 3 distinct vertices


def test_gfd_metrics_df_counts(graph):
    v, e = graph
    row = gfd_metrics_df(
        v, e, {"a": "person", "b": "person"}, [("a", "b", "knows")],
        premises=[(("a", "city"), "berlin")],
        conclusion=[(("b", "city"), "berlin")],
    ).collect()[0]
    assert row["total_matches"] == 6
    assert row["premise_matches"] == 4  # p1 and p2 as `a` + p1 twice
    assert row["num_violations"] == 2
    assert row["error"] == pytest.approx(0.5)
    assert row["holds"] == 0


def test_gfd_disconnected_pattern_components(spark):
    # pattern = two disjoint edges: embeddings are pairs of edge matches
    # with all four vertices distinct
    v = spark.createDataFrame(
        [("a", "n", None), ("b", "n", None), ("c", "n", None),
         ("d", "n", None)],
        "vertex_id string, label string, city string",
    )
    e = spark.createDataFrame(
        [("a", "b", "e"), ("c", "d", "e")],
        "src string, dst string, label string",
    )
    m = gfd_matches(
        v, e, {"w": None, "x": None, "y": None, "z": None},
        [("w", "x", "e"), ("y", "z", "e")],
    ).collect()
    # each undirected edge matches 2 ways; two ordered edge choices with
    # disjoint vertices: 2 edges × 2 orient × 2 orient = 8
    assert len(m) == 8
    for r in m:
        ids = {r["w__id"], r["x__id"], r["y__id"], r["z__id"]}
        assert len(ids) == 4


# ---- GfdValidationTest goldens (test_gfd_validation.cpp:32-52) -----------

GRAPH_DATA = "test_input_data/graph_data"


def test_gfd_quadrangle_trivially_holds(spark):
    """TestTrivially: the quadrangle GFD's pattern (polygon—triangle)
    has no embedding in the host graph, so the GFD holds vacuously
    (GfdList size 1 in the reference = the GFD is returned as holding).
    Also exercises the GFD-file shape with an EMPTY premise line and a
    variable-to-variable conclusion literal (0.sides=1.sides)."""
    from desbordante_spark.sources.graph_dot import (
        parse_gfd_file,
        verify_gfd_files,
    )

    spec = parse_gfd_file(reference_path(f"{GRAPH_DATA}/quadrangle_gfd.dot"))
    assert spec["premises"] == []
    assert spec["conclusion"] == [(("0", "sides"), ("1", "sides"))]
    assert spec["pattern_vertices"] == {"0": "polygon", "1": "triangle"}

    res = verify_gfd_files(
        spark,
        reference_path(f"{GRAPH_DATA}/quadrangle.dot"),
        reference_path(f"{GRAPH_DATA}/quadrangle_gfd.dot"),
    )
    assert res.holds
    assert res.total_rows == 0
    assert res.num_violating_rows == 0


def test_gfd_directors_does_not_hold(spark):
    """TestExistingMatches: the directors GFD is violated (GfdList size
    0 in the reference) — the verify side is already goldened in
    test_round3.py; this pins the holds-verdict next to its sibling."""
    from desbordante_spark.sources.graph_dot import verify_gfd_files

    res = verify_gfd_files(
        spark,
        reference_path(f"{GRAPH_DATA}/directors.dot"),
        reference_path(f"{GRAPH_DATA}/directors_gfd.dot"),
    )
    assert not res.holds
