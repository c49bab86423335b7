"""Large-star/small-star connected components on skewed and random
graphs: a hub in ~50% of edges (where per-node neighbor lists would
concentrate on one executor), a random graph checked against an
independent union-find, and the ``max_iter`` warning.
"""

from __future__ import annotations

import random

from etl_npl_pipeline_spark.operators.components import connected_components


def _labels(df):
    return {(r.node, r.component) for r in df.collect()}


def _union_find_labels(edges):
    """(node, min node id of its component) by single-node union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in list(parent)}


def test_star_hub_graph_converges(spark):
    """Hub node 500 participates in half of all edges; the other
    half is a long chain glued to the hub — both skew and depth in
    one graph."""
    hub = [(500, i) for i in range(200)]           # hub in 50% of edges
    chain = [(i, i + 1) for i in range(200, 400)]  # diameter 200
    glue = [(500, 200)]
    edges = spark.createDataFrame(hub + chain + glue, ["src", "dst"])
    got = _labels(connected_components(edges, "src", "dst"))
    nodes = set(range(401)) | {500}
    assert got == {(n, 0) for n in sorted(nodes)}


def test_components_match_union_find_on_random_graph(spark):
    rnd = random.Random(7)
    edges_py = [
        (rnd.randrange(120), rnd.randrange(120)) for _ in range(150)
    ]
    edges_py = [(a, b) for a, b in edges_py if a != b]
    edges = spark.createDataFrame(edges_py, ["src", "dst"])
    assert _labels(
        connected_components(edges, "src", "dst")
    ) == _union_find_labels(edges_py)


def test_star_warns_when_max_iter_hit_without_fixpoint(spark):
    """A star rewrite stopped mid-flight is not a valid labeling —
    the loop must warn instead of silently returning."""
    import warnings

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(edges, "src", "dst", max_iter=1).collect()
    assert any("no fixpoint" in str(x.message) for x in w)
