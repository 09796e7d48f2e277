"""Graph analytics: fixed-point PageRank, triangles, k-core, co-occurrence.

The PageRank check is differential: a pure-Python reimplementation of the
documented integer recurrence must match the distributed result exactly
(bit-identical bigints — the determinism contract in operators/graph.py).
"""

from __future__ import annotations

import pytest

from shacl_validator_spark.operators.graph import (
    PR_SCALE,
    cooccurrence_edges,
    kcore,
    pagerank,
    triangle_count,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _py_pagerank(pairs, iters=3, d_pct=85):
    """The documented recurrence in plain Python ints."""
    edges = sorted(set(pairs))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    base = (15 * PR_SCALE) // (100 * n)
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    pr = {v: PR_SCALE // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += pr[a] // outdeg[a]
        pr = {v: base + (d_pct * s[v]) // 100 for v in nodes}
    return pr


@pytest.mark.parametrize(
    "pairs",
    [
        # cycle: symmetric ranks
        [(1, 2), (2, 3), (3, 1)],
        # star into a sink (dangling node 9), plus a back edge
        [(1, 9), (2, 9), (3, 9), (9, 1), (4, 1), (4, 2)],
        # multigraph input (dupes must collapse) + self-contained pair
        [(1, 2), (1, 2), (2, 1), (5, 6)],
    ],
)
def test_pagerank_matches_python_recurrence(spark, pairs):
    got = {r["node"]: r["pr"] for r in pagerank(_edges(spark, pairs), iters=3).collect()}
    assert got == _py_pagerank(pairs)


def test_pagerank_mass_bounded(spark):
    # dangling nodes leak mass (documented) — total can only shrink below
    # SCALE, never grow
    pairs = [(1, 2), (2, 3), (3, 4)]  # 4 is dangling
    got = pagerank(_edges(spark, pairs), iters=3).collect()
    assert 0 < sum(r["pr"] for r in got) <= PR_SCALE


def test_triangles_k4(spark):
    # K4: four triangles, each node in exactly three
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    got = {r["node"]: r["triangles"] for r in triangle_count(_edges(spark, pairs)).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_none_on_star(spark):
    pairs = [(1, 2), (1, 3), (1, 4)]
    assert triangle_count(_edges(spark, pairs)).count() == 0


def test_kcore_peels_star_keeps_triangle(spark):
    # star (center 10) dies under k=2; the triangle 1-2-3 survives intact
    pairs = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (10, 13)]
    got = {r["node"]: r["degree"] for r in kcore(_edges(spark, pairs), k=2, iters=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_cascade_needs_iterations(spark):
    # chain hanging off a triangle: 4-5 peel one per round — after round 1
    # node 5 is gone, after round 2 node 4 is gone; iters=1 keeps node 4
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    one = {r["node"] for r in kcore(_edges(spark, pairs), k=2, iters=1).collect()}
    three = {r["node"] for r in kcore(_edges(spark, pairs), k=2, iters=3).collect()}
    assert 4 in one
    assert three == {1, 2, 3}


def test_cooccurrence_hot_group_guard(spark):
    rows = [("g1", i) for i in range(1, 4)] + [("hot", i) for i in range(100)]
    df = spark.createDataFrame(rows, "grp string, item long")
    e = cooccurrence_edges(df, "grp", "item", max_group=10)
    got = {(r["src"], r["dst"]) for r in e.collect()}
    # the hot group is dropped entirely; g1 yields its 3 ordered pairs
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    """A chain longer than max_iter propagation rounds must raise, not
    silently return split components (distributed path forced)."""
    import pytest

    from shacl_validator_spark.operators import components

    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(15)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges, max_iter=3).collect()
    ok = components.connected_components(edges, max_iter=20)
    assert ok.select("component").distinct().count() == 1
