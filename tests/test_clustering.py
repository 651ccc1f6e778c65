"""Distributed Lloyd's k-means (webfilter/clustering.py).

Exactness strategy under test: the exact path carries centroids as
integer (sum, count) pairs and ranks by one IEEE division of exact
integers, so an independent numpy replay over the SAME quantized
vectors must agree bit-for-bit — any float-order sensitivity in the
Spark plan would show up as a flipped argmin here."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _qv_matrix(spark):
    """Quantized vectors exactly as the operator computes them (Spark
    HALF_UP rounding), so the replay shares the operator's input."""
    from webfilter.simsearch import quantized_vec

    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", quantized_vec(F.col("embedding"), 100).alias("qv"))
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.array([r["qv"] for r in rows], dtype=np.int64)
    return ids, m


def _lloyd_exact_replay(ids, m, init_ids=8, iters=2):
    """Independent exact Lloyd's: same rational ranking, numpy ints."""
    cents = {int(i): (m[ids == i][0].astype(object), 1) for i in range(init_ids)}

    def assign(v):
        vv = int((v.astype(object) * v).sum())
        best, best_key = None, None
        for cid in sorted(cents):
            s, n = cents[cid]
            dot = int((v.astype(object) * s).sum())
            ss = int((s * s).sum())
            key = float(n * n * vv - 2 * n * dot + ss) / float(n * n)
            if best_key is None or key < best_key:
                best, best_key = cid, key
        return best

    for _ in range(iters):
        asg = np.array([assign(v) for v in m])
        for cid in cents:
            mask = asg == cid
            if mask.any():
                cents[cid] = (m[mask].astype(object).sum(axis=0), int(mask.sum()))
    return np.array([assign(v) for v in m])


def test_kmeans_exact_matches_numpy_replay(spark):
    from webfilter.clustering import kmeans_exact_assignments

    ids, m = _qv_matrix(spark)
    want = _lloyd_exact_replay(ids, m)
    got = (
        kmeans_exact_assignments(
            spark.read.parquet(f"{SF}/embeddings.parquet"), iters=2, scale=100
        )
        .orderBy("vec_id")
        .collect()
    )
    assert np.array_equal(np.array([r["cluster"] for r in got]), want)
    # non-degenerate: multiple clusters survive
    assert len(set(want)) > 1


def test_kmeans_exact_partition_invariant(spark):
    """Assignment is map-side and updates are exact integer sums, so
    the result cannot depend on partitioning or row order."""
    from webfilter.clustering import kmeans_exact

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = kmeans_exact(emb, iters=2).orderBy("vec_id").collect()
    b = kmeans_exact(emb.repartition(7), iters=2).orderBy("vec_id").collect()
    assert a == b


def test_kmeans_exact_cluster_size_consistent(spark):
    from webfilter.clustering import kmeans_exact

    rows = kmeans_exact(
        spark.read.parquet(f"{SF}/embeddings.parquet"), iters=2
    ).collect()
    from collections import Counter

    sizes = Counter(r["cluster"] for r in rows)
    assert all(r["cluster_size"] == sizes[r["cluster"]] for r in rows)
    assert sum(sizes.values()) == len(rows)


def test_kmeans_fit_matches_numpy_float_lloyd(spark):
    """Production float path vs an independent numpy Lloyd's from the
    identical init. Assignments must agree exactly (sf0.001 has no
    knife-edge ties); centers to 1e-9 (both sides sum <=500 doubles)."""
    from webfilter.clustering import kmeans_fit

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centers, assign = kmeans_fit(emb, dim=64, k=6, iters=3)

    rows = emb.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h")).collect()
    rows.sort(key=lambda r: r["h"])
    init = np.array([list(r["embedding"]) for r in rows[:6]], dtype=np.float64)
    m = np.array(
        [list(r["embedding"]) for r in sorted(rows, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )
    c = init.copy()
    for _ in range(3):
        d = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(len(c)):
            if (a == j).any():
                c[j] = m[a == j].mean(axis=0)
    assert np.allclose(centers, c, atol=1e-9)

    got = (
        emb.select("vec_id", assign(F.col("embedding")).alias("cl"))
        .orderBy("vec_id")
        .collect()
    )
    d = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    assert np.array_equal(np.array([r["cl"] for r in got]), d.argmin(axis=1))


def test_kmeans_fit_requires_dim(spark):
    from webfilter.clustering import kmeans_fit

    with pytest.raises(ValueError, match="dim is required"):
        kmeans_fit(spark.read.parquet(f"{SF}/embeddings.parquet"), dim=None)


def test_exact_assign_requires_sorted_cents(spark):
    from webfilter.clustering import exact_assign_col

    with pytest.raises(ValueError, match="sorted"):
        exact_assign_col(F.col("qv"), [(2, [1], 1), (1, [2], 1)])


def test_empty_cluster_keeps_previous_centroid(spark):
    """Two far groups + one init centroid that immediately loses all
    members: the loser keeps its init centroid (never NaN/zero) and
    the final assignment still covers every row."""
    from webfilter.clustering import kmeans_exact_assignments

    # Both inits are [0,0]: round 1 ties every row to cent 0 (lowest
    # cent_id wins), so cluster 1 goes EMPTY and must keep its init
    # centroid. Round 2: c0 has drifted to the mean (75,75) while c1
    # is still (0,0), so the origin rows come back to cluster 1 —
    # which only happens if the empty-cluster fallback preserved it.
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])] + [
        (i, [1.0, 1.0]) for i in range(2, 8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_exact_assignments(df, iters=2, scale=100, init_ids=2).collect()
    assert len(out) == 8
    got = {r["vec_id"]: r["cluster"] for r in out}
    assert got[0] == got[1] == 1  # origin rows reclaimed by kept centroid
    assert all(got[i] == 0 for i in range(2, 8))


def test_semdedup_scaled_catches_planted_dups_and_bounds_k(spark):
    """The k∝n SemDeDup variant (round 5 — the fixed-k oracle twin is
    O(n^2/k), measured 36x wall at 10x data): planted exact-duplicate
    vectors must be dropped (an exact dup always lands in its twin's
    cluster), output must be deterministic across invocations, and
    the higher id of an equidistant pair is the one dropped."""
    import numpy as np

    from webfilter.clustering import semdedup_pairs_scaled

    rng = np.random.default_rng(7)
    rows = []
    for i in range(300):
        v = rng.normal(0, 1, 16)
        v = (v / np.linalg.norm(v)).tolist()
        rows.append((i, v))
        if i % 10 == 0:  # planted exact dup
            rows.append((10000 + i, list(v)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_pairs_scaled(df, dim=16, tau=0.95, target_cluster=48)
    drops = {r["vec_id"] for r in out.collect()}
    planted = {10000 + i for i in range(0, 300, 10)}
    # every planted dup dropped, and the HIGHER id (tie rule)
    assert planted <= drops, planted - drops
    assert not drops & set(range(0, 300, 10)) - planted
    # deterministic
    drops2 = {r["vec_id"] for r in out.collect()}
    assert drops == drops2


def test_semdedup_scaled_empty_and_null_inputs(spark):
    from webfilter.clustering import semdedup_pairs_scaled

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semdedup_pairs_scaled(empty, dim=4).count() == 0
    nulls = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"] for r in semdedup_pairs_scaled(nulls, dim=2, tau=0.9).collect()}
    assert out == {3}


def test_semdedup_scaled_two_level_path_catches_planted_dups(spark):
    """k > 32 switches to the two-level IVF-style assignment; exact
    dups take identical decisions at both levels, so every planted
    dup must still co-cluster and be dropped (higher id)."""
    import numpy as np

    from webfilter.clustering import semdedup_pairs_scaled

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        v = rng.normal(0, 1, 16)
        v = (v / np.linalg.norm(v)).tolist()
        rows.append((i, v))
        if i % 10 == 0:
            rows.append((10000 + i, list(v)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # target 8 -> k = ceil(330/8) = 42 > 32 -> two-level
    out = semdedup_pairs_scaled(df, dim=16, tau=0.95, target_cluster=8)
    drops = {r["vec_id"] for r in out.collect()}
    planted = {10000 + i for i in range(0, 300, 10)}
    assert planted <= drops, planted - drops
    assert not drops & set(range(0, 300, 10)) - planted
    assert drops == {r["vec_id"] for r in out.collect()}  # deterministic


def _semdedup_asg(spark):
    """The exact assignment frame q_semdedup_kmeans builds (sf0.001)."""
    from webfilter.clustering import (
        exact_assign_col,
        exact_min_key_col,
        kmeans_exact_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qdf, cents = kmeans_exact_centroids(emb, iters=2, scale=100, init_ids=8)
    vv = F.aggregate(
        F.transform(F.col("qv"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return qdf.select(
        F.col("_id").alias("vec_id"),
        exact_assign_col(F.col("qv"), cents).alias("cluster"),
        exact_min_key_col(F.col("qv"), cents).alias("ckey"),
        "qv",
        vv.alias("vv"),
    )


def test_semdedup_losers_matches_join(spark):
    """The numpy Gram kernel (r6 optimization) must be SET-IDENTICAL
    to the original within-cluster self-join formulation — the kernel
    only vectorizes the same exact-integer pair test and the same
    IEEE-double ckey loser rule."""
    from webfilter.clustering import semdedup_cluster_losers

    asg = _semdedup_asg(spark)
    a = asg.select(
        F.col("vec_id").alias("id_a"), "cluster", F.col("ckey").alias("k_a"),
        F.col("qv").alias("qa"), F.col("vv").alias("va"),
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"), "cluster", F.col("ckey").alias("k_b"),
        F.col("qv").alias("qb"), F.col("vv").alias("vb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    near = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (F.lit(25).cast("bigint") * F.col("dot") * F.col("dot")
               >= F.lit(4).cast("bigint") * F.col("va") * F.col("vb"))
        )
    )
    drop = F.when(F.col("k_a") > F.col("k_b"), F.col("id_a")).otherwise(
        F.col("id_b")
    )
    join_rows = {
        (r["vec_id"], r["cluster"])
        for r in near.select(drop.alias("vec_id"), "cluster").distinct().collect()
    }
    kernel_rows = [
        (r["vec_id"], r["cluster"])
        for r in semdedup_cluster_losers(asg).collect()
    ]
    assert len(kernel_rows) == len(set(kernel_rows))  # already distinct
    assert set(kernel_rows) == join_rows
    assert len(join_rows) > 0  # fixture actually exercises the rule


def test_semdedup_losers_refuses_int64_overflow(spark):
    """The kernel's near test 25*dot^2 >= 4*va*vb runs in int64: data
    whose bound 25*(dim*max|q|^2)^2 reaches 2^63 must raise, not wrap
    silently; data just inside the bound still runs exactly."""
    from webfilter.clustering import semdedup_cluster_losers

    def asg(amax):
        qs = [[amax, amax, amax, amax - i] for i in range(3)]
        return spark.createDataFrame(
            [(i, 0, float(i), q, sum(x * x for x in q)) for i, q in enumerate(qs)],
            "vec_id bigint, cluster bigint, ckey double, qv array<bigint>, vv bigint",
        )

    inside = semdedup_cluster_losers(asg(10_000)).collect()  # 4.0e18 < 2^63
    assert {(r["vec_id"], r["cluster"]) for r in inside} == {(1, 0), (2, 0)}
    with pytest.raises(Exception, match="exactness envelope"):
        semdedup_cluster_losers(asg(20_000)).collect()  # 6.4e19 >= 2^63
