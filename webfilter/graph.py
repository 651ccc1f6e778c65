"""Host-level link-graph analytics: PageRank as iterative DataFrame
algebra (the web-corpus quality prior — Common-Crawl pipelines rank
hosts by centrality to weight or gate documents).

Design (same family as `dedup.connected_components`):

* one edge-normalization shuffle up front (out-degrees);
* per iteration: contributions = edges ⋈ ranks on src (shuffle on
  the src key), summed per dst (same key — AQE coalesces), plus the
  two scalar corrections (teleport, dangling mass) carried as a
  BROADCAST single-row aggregate cross-join — no driver action per
  iteration, the whole loop is lazy until the caller materializes;
* `localCheckpoint` every few rounds truncates the lineage so the
  plan does not grow exponentially with iterations.

At 10^12 edges each iteration is one join shuffle on the node key —
the canonical distributed PageRank shape. Dangling nodes (no
out-links) donate their mass uniformly, so total rank stays 1.0
every iteration (asserted in tests vs numpy power iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 12,
    checkpoint_every: int = 4,
    n_nodes: int | None = None,
    nodes: DataFrame | None = None,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Rank every node reachable as an endpoint of ``edges``
    (directed, duplicates allowed — parallel edges weigh double,
    matching the multigraph adjacency matrix). Returns
    (node, rank) with ranks summing to 1.

    Fixed iteration count (not convergence-probed): deterministic
    plan depth, and 10-15 rounds is within 1e-6 of the fixpoint on
    web-ish graphs with d=0.85.

    ``n_nodes``: pass the node count when the caller knows it (keeps
    construction action-free — the registry rule); omit and ONE
    bounded count() action runs here, the connected_components
    discipline.

    ``nodes``: optional explicit node universe (a single-column
    "node" DataFrame). When the caller KNOWS the universe (e.g. hosts
    0..29 by construction), passing it makes the result independent
    of which nodes happen to appear in ``edges`` — n_nodes and the
    observed endpoints can no longer silently disagree (ADVICE r3:
    a hard-coded n with partial coverage breaks rank-sums-to-1).
    Universe nodes absent from edges are isolated: dangling donors
    and teleport receivers, so total rank still sums to 1.

    ``teleport``: optional (node, weight) frame of NORMALIZED
    personalization weights (Σ=1; nodes absent get 0) — personalized
    PageRank (Haveliwala 2002): both the (1-d) restart mass and the
    dangling redistribution follow the teleport distribution instead
    of uniform, so rank still sums to exactly 1 each round. Pass
    already-normalized weights: no action runs here to normalize
    (the construction-is-plan-only rule).
    """
    d = 0.85  # damping
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        # an explicit universe may not cover every edge endpoint:
        # contributions sent to an out-of-universe dst would be
        # counted as distributed by the dangling term yet dropped by
        # the rank join — rank mass leaks and the sum-to-1 invariant
        # silently breaks (code-review r4c4 finding #2). Filter the
        # edges BEFORE out-degree so removed links redistribute to
        # the remaining ones (a src with only out-of-universe links
        # correctly becomes dangling).
        edges = edges.join(
            nodes.select(F.col("node").alias("dst")), "dst", "left_semi"
        )
    # deferred: the teleport branch never uses n, and counting nodes
    # at construction is a full distinct-node job (code-review r4c4
    # finding #6)
    n = n_nodes
    if n is None and teleport is None:
        n = nodes.count()
        if n == 0:
            # empty graph: no nodes, no ranks — an empty frame (with
            # the caller's node type preserved), not a
            # ZeroDivisionError (code-review r4c4 finding #5)
            return nodes.withColumn("rank", F.lit(0.0))
    # Collapse parallel edges BEFORE normalization (opt guide §2.3
    # "aggregate before you shuffle"): a multigraph derived from an
    # event log can carry millions of rows over a few thousand
    # distinct (src, dst) pairs, and the per-round contribs join then
    # re-scans every parallel edge each iteration. Grouping to
    # weighted edges (share = multiplicity / deg) makes each round's
    # join O(distinct pairs), not O(events). Numerically this changes
    # only the SUMMATION ORDER of the per-dst contribution sum —
    # which Spark's partial aggregation already leaves unspecified —
    # and rank outputs are consumed at r6 rounding (oracle-verified
    # unchanged at every sf; see OPTIMIZATION_r06.md).
    weights = (
        edges.groupBy(F.col("src").alias("node"), "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    out_deg = weights.groupBy("node").agg(F.sum("w").alias("deg"))
    norm_edges = (
        weights.join(out_deg, "node")
        .select("node", "dst", (F.col("w") / F.col("deg")).alias("share"))
        .localCheckpoint(eager=False)
    )

    # Loop shape (re-measured this round on a 10^6-edge power-law
    # graph, jobs/bench_pagerank.py): ONE expensive frame per round —
    # the post-shuffle contribs — lazily checkpointed EVERY round.
    # The old shape referenced ranks twice per round (contribs join +
    # a dangling anti-join pass), so any checkpoint cadence > 1 made
    # executor work double per un-truncated round (2^(cadence-1)
    # recomputes: cadence 4 measured 50.6 s vs 16.9 s at cadence 1
    # for 8 rounds at 1M edges). The dangling pass itself is
    # redundant: ranks re-normalize to exactly 1 each round
    # ((1-d) + d*((1-dang) + dang)), so dangling mass = 1 - Σcontrib —
    # one agg over the already-checkpointed (<= n_nodes)-row contribs
    # frame instead of a second full pass over ranks.
    # eager=False keeps construction action-free (the registry rule):
    # the plan is truncated to a LogicalRDD leaf at build time and
    # the chain executes once, in order, at the caller's action.
    # ``checkpoint_every`` is retained for API compatibility; values
    # > 1 re-introduce the recompute doubling and only ever made
    # sense on toy graphs where the analyzer, not the executor, was
    # the cost — it now gates nothing.
    _ = checkpoint_every
    if teleport is not None:
        tcols = teleport.columns
        base = (
            nodes.join(
                teleport.select(
                    F.col(tcols[0]).alias("node"),
                    F.col(tcols[1]).cast("double").alias("tw"),
                ),
                "node",
                "left",
            )
            .select("node", F.coalesce("tw", F.lit(0.0)).alias("tw"))
            .localCheckpoint(eager=False)
        )
        ranks = base.select("node", F.col("tw").alias("rank"))
    else:
        base = None
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _i in range(iters):
        contribs = (
            norm_edges.join(ranks, "node")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib"))
            .localCheckpoint(eager=False)
        )
        dangling = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("contrib"), F.lit(0.0))).alias("dang")
        )
        if base is not None:
            ranks = (
                base.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit(1.0 - d) * F.col("tw")
                        + F.lit(d)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.col("dang") * F.col("tw")
                        )
                    ).alias("rank"),
                )
            )
        else:
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - d) / n)
                        + F.lit(d)
                        * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dang") / n)
                    ).alias("rank"),
                )
            )
    return ranks


def host_pagerank_from_pages(
    pages: DataFrame,
    iters: int = 12,
) -> DataFrame:
    """End-to-end host authority from a raw pages corpus: extract
    outlinks (urls.outlink_urls_col), build source-host -> target-host
    edges, run pagerank. Returns (node, rank) over hosts. Composes
    the two already-scaled pieces (one extract map + one edge shuffle,
    then the iterative node-key shuffles)."""
    from pyspark.sql.types import StringType

    from .urls import host_col, outlink_urls_col

    html_as_str = F.col("html")
    if dict(pages.dtypes).get("html") == "binary":
        html_as_str = F.col("html").cast(StringType())
    edges = (
        pages.select(
            host_col(F.col("url")).alias("src"),
            F.explode(outlink_urls_col(html_as_str)).alias("href"),
        )
        .select("src", host_col(F.col("href")).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        # truncate lineage at the (tiny, host-pair) edge list: the
        # node count and the per-round contribs join must NOT each
        # re-run the corpus-wide outlink extract scan (measured 44 s
        # -> ~19 s on the 2000-doc host-prior job)
        .localCheckpoint(eager=False)
    )
    return pagerank(edges, iters=iters)


def connected_components_bounded(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """(id, component) by FIXED-round min-label propagation —
    component = min node id reachable within 10 hops, which is the
    exact connected component whenever the graph diameter is <= 10
    (the caller's contract, like ``pagerank(iters=...)``).

    The registry-safe sibling of ``dedup.connected_components``: no
    convergence probe, so construction stays action-free (only the
    lazy localCheckpoints' bounded prepares) and the plan depth is
    deterministic. Use the dedup variant when the diameter is
    unknown — it detects the fixpoint with one cheap agg per round
    and warns when max_iter truncates a chain.

    Per round: ONE shuffle (edges ⋈ labels on the node key, then the
    grouped min over the same key), lineage truncated per round with
    ``localCheckpoint(eager=False)`` — at 10^10 vertices every round
    is a single keyed exchange, the canonical distributed label-prop
    shape. ``nodes`` (optional) fixes the vertex universe by
    construction so isolated vertices appear as their own singleton
    component and coverage can never shift the result (the pagerank
    ``nodes`` rule).
    """
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    if nodes is None:
        labels = und.select(F.col("src").alias("id")).distinct()
    else:
        labels = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
    labels = labels.withColumn("label", F.col("id"))
    for _ in range(10):
        msgs = und.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("label").alias("component"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the compact-forward / Latapy algorithm, the shape GraphX's
    TriangleCount and Cohen's MapReduce formulation use).

    Orient every undirected edge from the (degree, id)-smaller
    endpoint to the larger: the graph becomes a DAG where each
    triangle {a,b,c} appears as exactly one wedge a->b, a->c closed
    by b->c (or c->b — orientation is antisymmetric, so the closing
    semi-join counts each triangle once). Orientation bounds the
    wedge fan-out per node by O(sqrt(m)) on any graph — the skewed
    hub that would generate deg^2 wedges in the naive self-join only
    ever FANS OUT to higher-degree nodes, of which there are at most
    sqrt(2m). Three shuffles total (wedge self-join on the low node,
    closing join on the (b,c) pair, per-node count); all exact
    integer algebra — no sampling.

    Input may contain duplicates, self-loops, or both directions;
    they are canonicalized away first.
    """
    und = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    lowfirst = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lowfirst, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lowfirst, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("w1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("w2"))
    wedges = e1.join(e2, "u").filter(F.col("w1") != F.col("w2"))
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    )
    tris = wedges.join(closing, ["w1", "w2"]).select(
        F.col("u").alias("a"), F.col("w1").alias("b"), F.col("w2").alias("c")
    )
    per_node = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return per_node
