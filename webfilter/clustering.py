"""Distributed Lloyd's k-means over an embedding column.

The clustering primitive the corpus-scale curation stages lean on:
SemDeDup's cluster-then-dedup (Abbas et al. 2023) and IVF/IVFPQ index
training both start from k-means centroids. `simsearch.train_ivf_centroids`
trains driver-side numpy over a bounded hash-sample — right for index
BUILD, where a capped sample is the algorithm. This module is the
other half: Lloyd iterations where the ASSIGNMENT and the CENTROID
UPDATE are Spark jobs over the full corpus, so the 10^12-row table is
never collected and never sampled.

Scale shape (the plan that survives 100 TB):
  * assignment is MAP-SIDE — the k centroids are driver-held floats
    embedded as array literals (k*dim values, bounded by construction),
    so per-row argmin runs inside whole-stage codegen with zero join
    and zero shuffle;
  * the update is ONE groupBy(cluster) with map-side partial
    aggregation of `dim` per-component sums + a count — the exchange
    carries at most k rows per map partition, and the driver collects
    exactly k rows per iteration (the same bounded-collect exception
    as graph.pagerank's dangling mass: k is a model dimension, not a
    data dimension).
This mirrors the classic Spark MLlib KMeans layout (broadcast centers,
aggregate partials), re-expressed with DataFrame HOFs. Reference has
no clustering stage; precedent is the reference's ai_query scoring
fan-out (biomed_genai 04_* notebooks) replaced throughout this repo by
local math.

Two arithmetic paths:
  * `kmeans_fit` — production float path (fast, JVM codegen).
  * `kmeans_exact` — the cross-engine oracle twin: embeddings are
    quantized to int64 (`round(x*scale)`), a centroid is carried as
    the exact pair (component-sum vector `s`, member count `n`) and
    NEVER materialized as a float mean, and the argmin key is the
    rational  dist^2 = (n^2*|v|^2 - 2n*(v.s) + |s|^2) / n^2  whose
    numerator/denominator are exact integers. Both engines evaluate
    the final double division on identical integers, and IEEE-754
    division is correctly rounded and monotonic, so the rounded keys
    order exactly like the true rationals (ties broken by cent_id the
    same way on both sides). Exactness bound: the numerator must stay
    under 2^53, i.e. 4 * n_cluster^2 * dim * (scale*max|x|)^2 < 2^53 —
    with scale=100, dim=64, |x|<=1 that holds to n_cluster ~ 5.9e6;
    beyond that, drop `scale` (the operator is then k-means over the
    coarser quantized space — still exact, just lower resolution).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .simsearch import quantized_vec

__all__ = [
    "assign_col",
    "exact_assign_col",
    "exact_min_key_col",
    "kmeans_fit",
    "kmeans_exact",
    "kmeans_exact_assignments",
    "kmeans_exact_centroids",
    "semdedup_cluster_losers",
    "semdedup_pairs_scaled",
]


def semdedup_cluster_losers(asg: DataFrame) -> DataFrame:
    """Cluster-local SemDeDup drop set, vectorized (opt guide §4.2).

    Input: (vec_id, cluster, ckey, qv, vv) — the exact-integer
    assignment frame q_semdedup_kmeans builds (qv int64-quantized
    vector, vv = |qv|^2, ckey = the winning centroid's rational
    distance key as double). Output: distinct (vec_id, cluster) of
    every pair-loser, IDENTICAL to the JVM self-join formulation:

        near(a, b)  :=  id_a < id_b  AND  dot > 0
                        AND 25*dot^2 >= 4*va*vb          (cos >= 0.4)
        loser(a, b) :=  id_a  if  k_a > k_b  else  id_b

    Replaces the within-cluster self-join whose per-pair dot ran as
    an interpreted zip_with/aggregate lambda (O(n^2/k) pairs * dim
    interpreted ops — the r5 bench's single slowest query at sf1,
    80 s) with one int64 Gram matrix per cluster in numpy. All
    arithmetic stays in the exact integer space (the module-docstring
    2^53 bound applies unchanged; data outside the kernel's int64
    exactness envelope raises ValueError), and the loser
    rule compares the same IEEE doubles Spark computed for ckey, so
    the result set is bit-identical. Blocked matmul bounds memory at
    ~blk * n int64s per task; parallelism = k tasks (cluster-local
    by design — the same shape as the join it replaces)."""
    import pandas as pd

    def _losers(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": pd.Series([], dtype="int64"),
                 "cluster": pd.Series([], dtype="int64")}
            )
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        q = np.array([np.asarray(x, dtype=np.int64) for x in pdf["qv"]])
        v = pdf["vv"].to_numpy(dtype=np.int64)
        ck = pdf["ckey"].to_numpy(dtype=np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        loser = np.zeros(n, dtype=bool)
        amax = int(np.abs(q).max()) if q.size else 0
        dim = q.shape[1] if q.ndim == 2 else 0
        # Exactness envelope, data-checked per task. The near test
        # below squares dot in int64: 25*dot^2 and 4*va*vb are both
        # <= 25*(dim*amax^2)^2, which must be < 2^63 or the comparison
        # silently wraps, so such data is refused. Inside the envelope
        # every pairwise |dot| partial sum (<= dim*amax^2 < 2^30) is
        # far below 2^52, so a float64 dgemm (numpy's int64 matmul has
        # no BLAS kernel, opt guide §4.2) produces the EXACT same
        # integers for any summation order — every intermediate is an
        # exactly representable integer — and rint-back to int64 is
        # lossless. The proof assumes a conventional inner-product
        # dgemm (blocked and/or FMA); a Strassen-type kernel's
        # intermediates could exceed the bound.
        if 25 * (dim * amax * amax) ** 2 >= 2**63:
            raise ValueError(
                "semdedup_cluster_losers: quantized vectors outside the "
                f"int64 exactness envelope (dim={dim}, max|q|={amax}: "
                "25*(dim*max|q|^2)^2 must be < 2^63); lower the "
                "quantization scale"
            )
        qf = q.astype(np.float64)
        blk = 2048
        for i0 in range(0, n, blk):
            i1 = min(i0 + blk, n)
            dot = np.rint(qf[i0:i1] @ qf.T).astype(np.int64)
            near = (dot > 0) & (
                25 * dot * dot >= 4 * v[i0:i1, None] * v[None, :]
            )
            # positional upper triangle == id_a < id_b (sorted by id)
            cols = np.arange(n)[None, :]
            rows = np.arange(i0, i1)[:, None]
            near &= cols > rows
            a_loses = near & (ck[i0:i1, None] > ck[None, :])
            b_loses = near & ~(ck[i0:i1, None] > ck[None, :])
            loser[i0:i1] |= a_loses.any(axis=1)
            loser |= b_loses.any(axis=0)
        out = ids[loser]
        return pd.DataFrame(
            {"vec_id": out,
             "cluster": np.full(len(out), pdf["cluster"].iloc[0],
                                dtype=np.int64)}
        )

    return (
        asg.select("vec_id", "cluster", "ckey", "qv", "vv")
        .groupBy("cluster")
        .applyInPandas(_losers, "vec_id bigint, cluster bigint")
    )


def _sq_dist_lit(vec: Column, center: list[float]) -> Column:
    """Float squared L2 distance from an array column to a literal
    center — pure HOF, stays in codegen."""
    # one list-literal py4j call, not dim calls (see _exact_keys note)
    lit = F.lit([float(x) for x in center]).cast("array<double>")
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def assign_col(vec: Column, centers: list[list[float]]) -> Column:
    """0-based argmin cluster id for `vec` against literal `centers`.
    Ties resolve to the LOWEST center index (array_position finds the
    first occurrence of the min) — deterministic on both engines."""
    dists = F.array(*[_sq_dist_lit(vec, c) for c in centers])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("bigint")


def kmeans_fit(
    df: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 5,
) -> tuple[np.ndarray, Callable[[Column], Column]]:
    """Distributed float Lloyd's. Returns (centers ndarray [k, dim],
    assign) where `assign(col)` is a map-side Column assigning any
    vector column to the trained centers.

    Init is the k rows with the smallest xxhash64(id) — partition- and
    file-order-invariant (the same device as train_ivf_centroids;
    a limit(k) prefix would be one shard's bias at 10^12 rows), and
    orderBy+limit compiles to TakeOrdered, not a full sort.

    Empty clusters keep their previous center (standard Lloyd's
    fallback; deterministic)."""
    if dim is None:
        raise ValueError("dim is required (no construction-time probe)")
    # a single NULL embedding would otherwise become a NULL cluster
    # row and crash the driver-side int() on the update collect
    # (code-review r4c7 finding #4); persist the projected frame so
    # the init + per-iteration scans do not recompute the upstream
    # lineage iters+1 times (finding #9 — the exact-twin already
    # does this)
    from .dedup import _persist

    df = _persist(df.select("vec_id", "embedding").filter(F.col("embedding").isNotNull()))
    init = (
        df.select(F.col("embedding"), F.xxhash64(F.col("vec_id")).alias("_h"))
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    centers = np.array([list(r[0]) for r in init], dtype=np.float64)
    k = len(centers)
    sums = [F.sum(F.col("embedding")[i]).alias(f"s{i}") for i in range(dim)]
    for _ in range(iters):
        asg = df.select(
            assign_col(F.col("embedding"), centers.tolist()).alias("cluster"),
            "embedding",
        )
        rows = asg.groupBy("cluster").agg(F.count("*").alias("n"), *sums).collect()
        for r in rows:  # <= k rows: bounded driver collect
            c = int(r["cluster"])
            centers[c] = np.array([r[f"s{i}"] for i in range(dim)]) / r["n"]
    return centers, lambda col: assign_col(col, centers.tolist())


# --- exact-integer oracle twin --------------------------------------


def _exact_keys(
    qv: Column, cents: list[tuple[int, list[int], int]]
) -> tuple[Column, Column]:
    """Distance keys + cent_id lookup arrays for an int64-quantized
    vector column against exact centroids [(cent_id, s, n), ...].

    Key per centroid: (n^2*|v|^2 - 2n*(v.s) + |s|^2) / n^2 — integer
    numerator/denominator evaluated exactly, divided once in double
    (correctly rounded + monotonic => cross-engine-identical order;
    see module docstring for the 2^53 bound). `cents` must be sorted
    by cent_id so the first-min tie-break of array_position matches
    an ORDER BY (key, cent_id)."""
    if [c[0] for c in cents] != sorted(c[0] for c in cents):
        raise ValueError("cents must be sorted by cent_id")
    vv = F.aggregate(
        F.transform(qv, lambda x: x * x), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    keys = []
    for _cid, s, n in cents:
        ss = sum(int(x) * int(x) for x in s)
        # ONE list-literal py4j call per centroid (F.lit accepts
        # sequences) — the previous per-element F.array(*[F.lit(x)
        # ...]) form cost k*dim driver round-trips, ~2 s of pure
        # expression CONSTRUCTION per call at k=8, dim=64 (measured;
        # it dominated the kmeans/semdedup bench wall at small sf)
        slit = F.lit([int(x) for x in s]).cast("array<bigint>")
        dot = F.aggregate(
            F.zip_with(qv, slit, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        )
        num = F.lit(n * n).cast("bigint") * vv - F.lit(2 * n).cast("bigint") * dot + F.lit(ss).cast("bigint")
        keys.append((num.cast("double") / F.lit(float(n * n))))
    dists = F.array(*keys)
    ids = F.lit([int(cid) for cid, _, _ in cents]).cast("array<bigint>")
    return dists, ids


def exact_assign_col(
    qv: Column, cents: list[tuple[int, list[int], int]]
) -> Column:
    """Kept as the reference tests/test_clustering.py checks against.

    Winning cent_id for a quantized vector (see _exact_keys)."""
    dists, ids = _exact_keys(qv, cents)
    return F.element_at(
        ids, F.array_position(dists, F.array_min(dists)).cast("int")
    )


def exact_min_key_col(
    qv: Column, cents: list[tuple[int, list[int], int]]
) -> Column:
    """Kept as the reference tests/test_clustering.py checks against.

    The winning centroid's rational distance key as a double —
    exact-integer numerator/denominator, one monotonic IEEE division,
    so cross-engine comparisons of this key (e.g. SemDeDup's
    'farther-from-centroid loses') order identically."""
    dists, _ = _exact_keys(qv, cents)
    return F.array_min(dists)


def exact_assign_udf(cents: list[tuple[int, list[int], int]]):
    """Vectorized twin of exact_assign_col/exact_min_key_col (r6,
    opt guide §4.2): one Arrow batch kernel computing
    struct(cluster, ckey, vv) per quantized vector, bit-identical to
    the Column forms — the same int64 numerator (module-docstring
    2^53 bound ⇒ the int64→double cast is exact), the same one IEEE
    division by float(n^2), numpy argmin's first-minimum matching
    array_position's first-match tie-break. Replaces k interpreted
    zip_with/aggregate folds per row (evaluated twice when both the
    assignment and the key are selected) with one int64 matmul per
    batch."""
    if [c[0] for c in cents] != sorted(c[0] for c in cents):
        raise ValueError("cents must be sorted by cent_id")
    from pyspark.sql import types as T

    ids = np.array([c[0] for c in cents], dtype=np.int64)
    S = np.array([c[1] for c in cents], dtype=np.int64)  # (k, dim)
    ns = np.array([c[2] for c in cents], dtype=np.int64)
    ss = (S * S).sum(axis=1)  # (k,) int64 — within the 2^53 bound

    def _fn(qv_s: pd.Series) -> pd.DataFrame:
        Q = np.array(
            [np.asarray(x, dtype=np.int64) for x in qv_s], dtype=np.int64
        )
        if Q.size == 0:
            return pd.DataFrame(
                {"cluster": pd.Series([], dtype="int64"),
                 "ckey": pd.Series([], dtype="float64"),
                 "vv": pd.Series([], dtype="int64")}
            )
        vv = (Q * Q).sum(axis=1)  # (b,) int64, exact
        dot = Q @ S.T  # (b, k) int64, exact
        num = (
            (ns * ns)[None, :] * vv[:, None]
            - 2 * ns[None, :] * dot
            + ss[None, :]
        )
        keys = num.astype(np.float64) / (
            (ns * ns).astype(np.float64)[None, :]
        )
        j = keys.argmin(axis=1)  # first min == array_position
        return pd.DataFrame(
            {"cluster": ids[j],
             "ckey": keys[np.arange(len(j)), j],
             "vv": vv}
        )

    schema = T.StructType(
        [T.StructField("cluster", T.LongType()),
         T.StructField("ckey", T.DoubleType()),
         T.StructField("vv", T.LongType())]
    )
    return F.pandas_udf(_fn, schema)


def kmeans_exact_centroids(
    df: DataFrame,
    iters: int = 2,
    scale: int = 100,
    init_ids: int = 8,
) -> tuple[DataFrame, list[tuple[int, list[int], int]]]:
    """Exact-arithmetic Lloyd's: `iters` assign+update rounds from the
    deterministic init (rows with id < init_ids, mirrorable in ANSI
    SQL). Returns (quantized frame with columns _id/qv, trained
    centroids [(cent_id, sum, count), ...]).

    Per iteration: one map-side assignment + one groupBy(cluster)
    partial-agg shuffle whose result (<= k rows) is collected to the
    driver to build the next round's literal centroids — the bounded-
    iterative pattern shared with graph.pagerank."""
    qdf = df.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("_id"), quantized_vec(F.col("embedding"), scale).alias("qv")
    )
    # every training round (and the caller's final assignment) scans
    # this frame — persist once so quantization runs one pass, not
    # iters+2 (the standard iterative-algorithm persist point; goes
    # through dedup's release registry so bench/pipeline sessions can
    # drop the storage between calls, tiny: ~dim*8 B per row)
    from .dedup import _persist

    qdf = _persist(qdf)
    init = (
        qdf.filter(F.col("_id") < init_ids)
        .orderBy("_id")
        .collect()
    )
    cents = [(int(r["_id"]), [int(x) for x in r["qv"]], 1) for r in init]
    if not cents:
        raise ValueError(
            f"no rows with vec_id < init_ids={init_ids} — exact k-means "
            "init requires small sequential integer ids covering "
            "0..init_ids-1 (code-review r4c7 finding #7)"
        )
    dim = len(cents[0][1])
    sums = [F.sum(F.col("qv")[i]).alias(f"s{i}") for i in range(dim)]
    for _ in range(iters):
        # vectorized assignment (bit-identical twin of
        # exact_assign_col — see exact_assign_udf)
        asg = qdf.select(
            exact_assign_udf(cents)(F.col("qv"))["cluster"].alias("cluster"),
            "qv",
        )
        rows = {
            int(r["cluster"]): r
            for r in asg.groupBy("cluster").agg(F.count("*").alias("n"), *sums).collect()
        }
        cents = [
            (cid, [int(rows[cid][f"s{i}"]) for i in range(dim)], int(rows[cid]["n"]))
            if cid in rows
            else (cid, s, n)  # empty cluster keeps its previous centroid
            for cid, s, n in cents
        ]
    return qdf, cents


def kmeans_exact_assignments(
    df: DataFrame,
    iters: int = 2,
    scale: int = 100,
    init_ids: int = 8,
) -> DataFrame:
    """Final (id, cluster) assignment against the trained exact
    centroids (see kmeans_exact_centroids)."""
    qdf, cents = kmeans_exact_centroids(df, iters, scale, init_ids)
    return qdf.select(
        F.col("_id").alias("vec_id"),
        exact_assign_udf(cents)(F.col("qv"))["cluster"].alias("cluster"),
    )


def kmeans_exact(df: DataFrame, iters: int = 2) -> DataFrame:
    """`kmeans_exact_assignments` + per-cluster size (one window)."""
    asg = kmeans_exact_assignments(df, iters)
    w = Window.partitionBy("cluster")
    return asg.select(
        "vec_id", "cluster", F.count("*").over(w).alias("cluster_size")
    )


def semdedup_pairs_scaled(
    df: DataFrame,
    dim: int,
    tau: float = 0.9,
    target_cluster: int = 256,
    iters: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with the cluster COUNT scaled to
    the corpus: k = ceil(n / target_cluster), so expected cluster size
    stays ~target_cluster regardless of n and the cluster-local pair
    join does ~n * target_cluster/2 comparisons — LINEAR in n.

    This is the web-scale path next to the oracle-pinned fixed-k
    twin (`entry_queries.q_semdedup_kmeans`, k=8 exact-integer so
    DuckDB can replay it): fixed k makes the within-cluster join
    O(n^2/k), measured 36x wall at 10x the data (BENCH/
    sf1_heavy_tail.json, round 5) — correct but quadratic by
    construction, exactly as the paper's own k∝n configuration
    avoids. Drop rule matches the paper and the fixed-k twin: within
    a cluster, a pair with cosine >= tau drops the member farther
    from its centroid (ties: higher id).

    One count() action at construction (k needs n) — bench/pipeline
    surface, not a registry query, so the action-free registry gate
    does not apply. Deterministic: kmeans_fit's hash init + literal
    centers; returns distinct (vec_id, cluster) drops.

    Assignment strategy switches on k: flat Lloyd for k <= 32; above
    that a two-level IVF-style scheme (sqrt(k) coarse Lloyd cells,
    then per-cell deterministic seed vectors, broadcast-join-pruned
    nearest-seed) keeps per-row assignment cost O(sqrt(k)*dim) —
    flat assignment is O(k*dim) per row, which with k ∝ n is itself
    the quadratic term at scale (see inline comment)."""
    import math

    src = df.filter(F.col("embedding").isNotNull())
    n = src.count()
    if n == 0:
        return src.select(
            F.col("vec_id"),
            F.lit(0).cast("bigint").alias("cluster"),
        ).limit(0)
    k = max(8, math.ceil(n / target_cluster))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    if k <= 32:
        # flat Lloyd: assignment is k literal sq-dist exprs per row —
        # fine while k is small
        centers, assign = kmeans_fit(src, dim, k=k, iters=iters)
        dists = F.array(
            *[_sq_dist_lit(F.col("embedding"), list(c)) for c in centers]
        )
        asg = src.select(
            F.col("vec_id"),
            assign(F.col("embedding")).alias("cluster"),
            F.array_min(dists).alias("cdist"),
            F.col("embedding").alias("v"),
            norm.alias("vn"),
        ).filter(F.col("vn") > 0)
    else:
        # Two-level (IVF-style) assignment — flat O(n*k*dim) is itself
        # quadratic once k ∝ n (measured: the flat k∝n variant still
        # grew 13x at 10x data, BENCH/sf1_heavy_tail.json). Coarse
        # Lloyd with k1 = ceil(sqrt(k)) cells; within each cell, k2 =
        # ceil(k/k1) deterministic seed vectors (smallest xxhash64(id)
        # — the kmeans_fit init device, one window, no per-cell fits);
        # each vector compares only against its OWN cell's seeds via a
        # broadcast join + map-side-combined min. Total O(n*sqrt(k)*
        # dim). Approximate at cell borders exactly like IVF — and
        # EXACT duplicates always co-cluster (identical vectors take
        # identical decisions), which is what the drop rule needs.
        from .dedup import _persist

        k1 = max(2, math.ceil(math.sqrt(k)))
        k2 = max(1, math.ceil(k / k1))
        centers, assign = kmeans_fit(src, dim, k=k1, iters=iters)
        coarse = _persist(src.select(
            F.col("vec_id"),
            F.col("embedding").alias("v"),
            norm.alias("vn"),
            assign(F.col("embedding")).alias("coarse"),
        ).filter(F.col("vn") > 0))
        w = Window.partitionBy("coarse").orderBy(
            F.xxhash64(F.col("vec_id")), F.col("vec_id")
        )
        seeds = (
            coarse.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k2)
            .select(
                "coarse",
                F.col("vec_id").alias("seed_id"),
                F.col("v").alias("seed_v"),
            )
        )
        d_seed = F.aggregate(
            F.zip_with(
                F.col("v"), F.col("seed_v"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # min over the struct orders by (distance, seed_id): exact
        # ties go to the lowest seed id — deterministic; partial agg
        # combines map-side so the shuffle carries ~n rows, not n*k2
        asg = (
            coarse.join(F.broadcast(seeds), "coarse")
            .select(
                "vec_id", "coarse",
                F.struct(
                    d_seed.alias("d"),
                    F.col("seed_id").alias("sid"),
                    F.col("v").alias("v"),
                    F.col("vn").alias("vn"),
                ).alias("_s"),
            )
            .groupBy("vec_id", "coarse")
            .agg(F.min("_s").alias("s"))
            .select(
                "vec_id",
                F.xxhash64("coarse", F.col("s.sid")).alias("cluster"),
                F.col("s.d").alias("cdist"),
                F.col("s.v").alias("v"),
                F.col("s.vn").alias("vn"),
            )
        )
    a = asg.select(
        F.col("vec_id").alias("id_a"), "cluster",
        F.col("cdist").alias("d_a"), F.col("v").alias("va"),
        F.col("vn").alias("na"),
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"), "cluster",
        F.col("cdist").alias("d_b"), F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    near = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= F.lit(float(tau)))
    )
    drop = F.when(
        F.col("d_a") > F.col("d_b"), F.col("id_a")
    ).when(
        F.col("d_b") > F.col("d_a"), F.col("id_b")
    ).otherwise(F.greatest("id_a", "id_b"))
    return near.select(drop.alias("vec_id"), "cluster").distinct()
