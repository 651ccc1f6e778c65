"""PageRank: exactness vs numpy power iteration (same transition
model: column-stochastic with uniform dangling redistribution and
teleport), mass conservation, and plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from webfilter.graph import pagerank


def _numpy_pagerank(edges, n, d=0.85, iters=12):
    """Dense reference: rank' = (1-d)/n + d (P rank + dang/n)."""
    P = np.zeros((n, n))
    deg = np.zeros(n)
    for s, t in edges:
        deg[s] += 1
    for s, t in edges:
        P[t, s] += 1.0 / deg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dang = r[deg == 0].sum()
        r = (1 - d) / n + d * (P @ r + dang / n)
    return r


@pytest.fixture(scope="module")
def small_graph(spark):
    # 5 nodes; node 4 dangling; parallel edge 0->1 weighs double
    edges = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (3, 4), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    return edges, df


def test_pagerank_matches_numpy(spark, small_graph):
    edges, df = small_graph
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=12).collect()}
    want = _numpy_pagerank(edges, 5)
    assert set(got) == set(range(5))
    for i in range(5):
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


def test_pagerank_mass_conserved(spark, small_graph):
    _, df = small_graph
    total = pagerank(df, iters=7).agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_pagerank_dangling_outranks_nothing_silently(spark, small_graph):
    """The dangling node (4) receives from 3 and 2 and donates back
    uniformly — its rank must exceed teleport-only mass."""
    _, df = small_graph
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=12).collect()}
    assert got[4] > (1 - 0.85) / 5


def test_pagerank_no_action_during_loop_and_no_cartesian(spark, small_graph):
    """The per-iteration dangling scalar travels as a broadcast 1-row
    aggregate: the plan may contain BroadcastNestedLoopJoin (1-row
    cross) but never a CartesianProduct of node-scale frames."""
    _, df = small_graph
    plan = pagerank(df, iters=2, checkpoint_every=10)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_host_pagerank_from_pages(spark):
    from webfilter.graph import host_pagerank_from_pages

    rows = [
        ("http://a.com/1", b'<a href="http://b.com/x">l</a><a href="http://c.com/y">l</a>'),
        ("http://b.com/1", b'<a href="http://c.com/z">l</a>'),
        ("http://c.com/1", b'<a href="http://a.com/h">l</a>'),
        ("http://d.com/1", b"no links here"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["node"]: r["rank"] for r in host_pagerank_from_pages(df, iters=12).collect()}
    assert set(got) == {"a.com", "b.com", "c.com"}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # c receives from both a and b -> highest authority
    assert got["c.com"] > got["a.com"] and got["c.com"] > got["b.com"]


def test_triangle_count_canonicalizes_and_counts(spark):
    """Self-loops, duplicate edges and both-direction edges must not
    change counts; per-node counts match hand-enumerated triangles.
    Graph: K4 on {0,1,2,3} (4 triangles, 3 per node) plus a pendant
    5-0 edge (no triangle) and noise: dup 0-1, reversed 2-0, loop 3-3.
    """
    from webfilter.graph import triangle_count

    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),  # K4
        (5, 0),          # pendant
        (1, 0),          # duplicate, reversed
        (2, 0),          # duplicate, reversed
        (3, 3),          # self-loop
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # total = 3 * n_triangles
    assert sum(got.values()) == 3 * 4


def test_triangle_count_empty_and_triangle_free(spark):
    from webfilter.graph import triangle_count

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    assert triangle_count(path).count() == 0


def test_pagerank_partial_universe_keeps_mass(spark):
    """An explicit node universe missing an edge endpoint must not
    leak rank mass (code-review r4c4 finding #2): edges to
    out-of-universe nodes are filtered BEFORE out-degree, so the
    sum-to-1 invariant holds."""
    from webfilter.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 99)],  # 99 outside the universe
        "src long, dst long",
    )
    universe = spark.range(3).select(F.col("id").alias("node"))
    ranks = pagerank(edges, iters=5, nodes=universe)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9
    assert ranks.count() == 3


def test_pagerank_empty_graph_returns_empty(spark):
    from webfilter.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(edges, iters=3)
    assert out.count() == 0
    assert set(out.columns) == {"node", "rank"}
