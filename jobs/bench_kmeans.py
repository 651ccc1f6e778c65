"""k-means scale evidence (bench-outlier follow-up, round 4): the
registry's kmeans_assign / semdedup_kmeans run on the sf0.1 toy
table (2,000 x 64 vectors), where the measured wall is almost
entirely FIXED cost — query analysis + 3 bounded driver collects of
the exact-Lloyd training loop (~1.3 s/job) — not data. This job
provides the at-scale measurement: run `clustering.kmeans_exact` at
TWO corpus sizes (V and 16V vectors, same iters, same cores, same
dim) in one session and report rows/second at both.

If the cost were data-bound, rows/s is ~flat across scales (wall
grows 16x); fixed-cost-bound means rows/s grows toward the data-bound
plateau as the corpus amortizes the per-job overhead. The observed
pair quantifies how much of the toy-scale bench number is overhead —
recorded in BENCH/kmeans.json and surfaced in BENCH/BASELINE.md.

Usage:
    spark-submit jobs/bench_kmeans.py [--vectors 200000] [--dim 64]
        [--iters 2] [--cores 8]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def synth_vectors(spark, n: int, dim: int, seed: int = 11):
    """Deterministic synthetic embeddings, pure Column math: component
    j of row i = centered hash ramp in [-0.5, 0.5), with 8 planted
    cluster offsets by vec_id % 8 so Lloyd's has real structure."""
    from pyspark.sql import functions as F

    v = spark.range(n).select(F.col("id").alias("vec_id"))
    comps = [
        (
            F.pmod(F.xxhash64("vec_id", F.lit(seed + j)), F.lit(1_000_003))
            / 1_000_003.0
            - 0.5
            + F.when((F.col("vec_id") % 8) == (j % 8), F.lit(1.5)).otherwise(F.lit(0.0))
        ).cast("float")
        for j in range(dim)
    ]
    return v.select("vec_id", F.array(*comps).alias("embedding"))


def run_once(spark, n: int, dim: int, iters: int) -> dict:
    from pyspark.sql import functions as F

    from webfilter.clustering import kmeans_exact
    from webfilter.dedup import release_cached

    df = synth_vectors(spark, n, dim)
    t0 = time.time()
    out = kmeans_exact(df, iters=iters)
    counts = {
        int(r["cluster"]): int(r["n"])
        for r in out.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    wall = time.time() - t0
    release_cached()
    return {
        "vectors": n,
        "dim": dim,
        "iters": iters,
        "wall_s": round(wall, 3),
        "rows_per_s": round(n / wall, 1),
        "n_clusters_used": len(counts),
        "largest_cluster": max(counts.values()),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", type=int, default=200_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args(argv)

    from webfilter.session import get_spark

    spark = get_spark("bench-kmeans", cores=args.cores)
    small = args.vectors // 16
    # warmup: session + codegen paths
    run_once(spark, 2_000, args.dim, args.iters)
    r_small = run_once(spark, small, args.dim, args.iters)
    r_big = run_once(spark, args.vectors, args.dim, args.iters)
    res = {
        "small": r_small,
        "big": r_big,
        "rows_per_s_ratio_big_over_small": round(
            r_big["rows_per_s"] / r_small["rows_per_s"], 2
        ),
        "cores": args.cores,
    }
    out = REPO / "BENCH" / "kmeans.json"
    out.write_text(json.dumps(res, indent=1))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
