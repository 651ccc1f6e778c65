"""End-to-end training-data export: the composition a user of this
engine actually ships — filtered/deduped survivors -> benchmark
decontamination -> deterministic train/val/test split -> packed
sequence shards on disk.

Reads the table state a previous `jobs/run_filter.py --dedup` run
left behind (kept_pages; falls back to kept decisions when the dedup
stage hasn't run), so stages chain through TABLES, never in-memory
handoff — the architecture the whole repo follows.

Every step is an already-scaled operator (webfilter/trainprep.py):
decontamination broadcasts the benchmark gram set (the corpus side
never shuffles), splits are map-only content-hash assignment, and
packing is a per-bucket prefix sum — so the export is one corpus
scan plus the bucket-partitioned shard write.

Usage:
    spark-submit --py-files webfilter.zip jobs/export_training.py \
        --in /path/to/run_filter_out --export /path/to/shards \
        [--benchmark bench.parquet] [--capacity 2048] [--buckets 16]
        [--synth 3000]   # self-contained demo: filter+dedup first

Prints ONE JSON line: docs in/dropped/out, token totals, packs per
split, shard paths.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="in_root", help="run_filter.py --out root")
    ap.add_argument("--export", required=True, help="shard output root")
    ap.add_argument(
        "--benchmark",
        help="parquet of eval texts (column 'text') to decontaminate "
        "against; with --synth a demo benchmark is derived from a "
        "slice of the corpus so drops provably happen",
    )
    ap.add_argument("--capacity", type=int, default=2048, help="tokens per pack")
    ap.add_argument("--buckets", type=int, default=16, help="pack shards")
    ap.add_argument("--ngram", type=int, default=8, help="contamination n-gram")
    ap.add_argument("--train", type=int, default=80, help="train %%")
    ap.add_argument("--val", type=int, default=10, help="val %%")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--synth", type=int, default=0,
        help="self-contained: synthesize N docs, run filter+dedup into "
        "--export/_pipeline first",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from webfilter.session import get_spark

    spark = get_spark("webfilter-export", cores=args.cores)
    t0 = time.time()

    in_root = args.in_root
    if args.synth:
        from webfilter import pipeline, synth

        in_root = f"{args.export}/_pipeline"
        synth.write_dataset(spark, args.synth, f"{in_root}/_synth")
        pipeline.run_filter(
            spark, f"{in_root}/_synth/pages.parquet", in_root,
            n_buckets=args.buckets, run_id="export",
        )
        pipeline.run_near_dedup(
            spark, in_root, n_buckets=args.buckets, run_id="export"
        )
    if not in_root:
        ap.error("either --in or --synth N is required")

    from webfilter.sketches import md5_prefix_hash
    from webfilter.tables import ParquetCatalog
    from webfilter.trainprep import dataset_split_col, decontaminate, pack_sequences

    catalog = ParquetCatalog(spark, in_root)
    if catalog.exists("kept_pages"):
        docs = catalog.read("kept_pages")
    else:
        docs = catalog.read("decisions").filter(F.col("keep"))
    docs = docs.select("url", F.col("scrubbed_text").alias("text"))
    n_in = docs.count()

    # ---- decontamination (broadcast benchmark grams) ----------------
    n_dropped = 0
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark).select("text")
    elif args.synth:
        # demo benchmark: exact slices of every 37th kept doc -> those
        # docs MUST be dropped (eval leakage by construction)
        bench = (
            docs.withColumn("_h", md5_prefix_hash(F.col("url"), 8))
            .filter(F.col("_h") % 37 == 0)
            .select(F.substring("text", 1, 400).alias("text"))
        )
    else:
        bench = None
    if bench is not None:
        contaminated = decontaminate(
            docs, bench, n=args.ngram, id_col="url"
        ).select("url")
        # persist: the decontamination join is the job's most
        # expensive stage and both the count and the shard write
        # consume it (code-review r4c9 finding #8)
        clean = docs.join(contaminated, "url", "left_anti").persist()
        n_clean = clean.count()
        n_dropped = n_in - n_clean
        docs = clean

    # ---- split FIRST, then pack per split ---------------------------
    # packing over the full corpus and splitting afterwards fragments
    # every pack across splits: offsets inside a train shard no
    # longer tile [0, capacity) where val/test docs were removed, and
    # (pack_bucket, pack_id) double-counts across splits (code-review
    # r4c9 finding #1). The split is a pure function of url, so
    # per-split packing stays deterministic and restart-stable.
    docs = docs.withColumn(
        "split", dataset_split_col(F.col("url"), args.train, args.val)
    )
    parts = []
    for sp in ("train", "val", "test"):
        sub = docs.filter(F.col("split") == sp)
        layout = pack_sequences(
            sub, capacity=args.capacity, id_col="url",
            n_buckets=args.buckets,
        )
        parts.append(sub.join(layout, "url"))
    shards = parts[0]
    for pdf in parts[1:]:
        shards = shards.unionByName(pdf)
    out_path = f"{args.export}/shards.parquet"
    (
        shards.repartition("split", "pack_bucket")
        .write.mode("overwrite")
        .partitionBy("split", "pack_bucket")
        .parquet(out_path)
    )

    written = spark.read.parquet(out_path)
    stats_rows = (
        written.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.countDistinct("pack_bucket", "pack_id").alias("packs"),
        )
        .collect()
    )
    stats = {
        r["split"]: {
            "docs": int(r["docs"]), "tokens": int(r["tokens"]),
            "packs": int(r["packs"]),
        }
        for r in stats_rows
    }
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "dropped_contaminated": n_dropped,
                "docs_out": sum(s["docs"] for s in stats.values()),
                "capacity": args.capacity,
                "splits": stats,
                "shards": out_path,
                "wall_s": round(time.time() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
