"""Model checks for the graph operators — triangle census and connected
components — random small graphs vs plain-Python references (the
round-9/10 model-test pattern). The DuckDB oracles certify these on the
generated dup-graphs; these certify the SEMANTICS on adversarial shapes:
self-loop-free multigraph inputs with duplicate edges, both edge
orientations of the same pair, isolated stars, cliques, and path graphs
at the diameter edge of the propagation loop.
"""

from __future__ import annotations
import pytest

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_EDGES = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


def _canon(edges):
    """Undirected simple-graph edge set (what both operators normalize to)."""
    return {(min(a, b), max(a, b)) for a, b in edges}


@given(edges=_EDGES, orient=st.booleans())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_triangle_stats_matches_python_model(spark, edges, orient):
    """Triangle counts vs brute force — under BOTH orientations.
    orient_by_degree=True accepts arbitrary orientation conventions
    (duplicate AND reversed input edges; the post-orient distinct
    collapses them); False documents canonical id_a < id_b input (the
    LSH pair convention), so the raw edges are canonicalized first."""
    from cyrela_etl_spark.operators.graph import triangle_stats

    simple = _canon(edges)
    fed = list(edges) if orient else sorted(simple)
    df = spark.createDataFrame(fed, "id_a long, id_b long")
    row = triangle_stats(df, orient_by_degree=orient).collect()[0]
    nodes = {v for e in simple for v in e}
    adj = {v: set() for v in nodes}
    for a, b in simple:
        adj[a].add(b)
        adj[b].add(a)
    triangles = sum(
        1
        for trio in combinations(sorted(nodes), 3)
        if (trio[0], trio[1]) in simple
        and (trio[0], trio[2]) in simple
        and (trio[1], trio[2]) in simple
    )
    # triangle counts are orientation-free; wedge counts are not asserted
    # against a model (they depend on the chosen orientation)
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(simple)
    assert row["n_triangles"] == triangles


@given(edges=_EDGES)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation vs a plain union-find: every edge-touching
    vertex labeled with the MIN id of its component."""
    from cyrela_etl_spark.operators.dedup import connected_components

    df = spark.createDataFrame(list(edges), "id_a long, id_b long")
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for v in list(parent):
        comp_min.setdefault(find(v), 10**9)
    for v in list(parent):
        r = find(v)
        comp_min[r] = min(comp_min[r], v)
    want = {(v, comp_min[find(v)]) for v in parent}
    assert got == want


def test_connected_components_path_at_diameter(spark):
    """A 12-vertex path graph — the worst diameter the default max_iters
    must still converge on (pointer-doubling propagation halves the
    distance-to-min per round)."""
    from cyrela_etl_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {(i, 0) for i in range(12)}
