"""spark-submit entry point for the quality-filter pipeline.

Usage (production shape, north rule):
    spark-submit --py-files webfilter.zip jobs/run_filter.py \
        --pages /path/pages.parquet --out /path/out --buckets 4096

Local/dev extras:
    --synth N      generate an N-doc deterministic synthetic corpus
                   into --out/_synth first and filter that
    --cores N      local[N] master (default: all)
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# spark-submit puts the script's own directory (jobs/) on sys.path,
# not the repo root; --py-files covers executors but the driver needs
# this when run from a source checkout.
_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="webfilter quality-filter job")
    ap.add_argument("--pages", help="input pages parquet/Iceberg path")
    ap.add_argument("--out", required=True, help="output root (decisions/audit/manifest)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic docs first")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--dedup", action="store_true",
        help="after the filter stage, run the near-dup dedup stage "
        "(minhash pairs -> dup_pairs + kept_pages tables); it resumes "
        "from the persisted dedup state, ingesting only filter runs "
        "not yet deduped",
    )
    ap.add_argument(
        "--min-quality-prob", type=float, default=None,
        help="activate the model-based quality gate: drop docs whose "
        "classifier P(wiki-like) is below this (lineage column "
        "quality_prob is recorded either way)",
    )
    ap.add_argument(
        "--host-prior", action="store_true",
        help="compute host authority (PageRank over the corpus's own "
        "link graph) and join it as a host_rank decision column",
    )
    ap.add_argument(
        "--min-host-rank", type=float, default=None,
        help="with --host-prior semantics: drop docs whose host rank "
        "is below this (hosts absent from the link graph fail)",
    )
    ap.add_argument(
        "--boilerplate", action="store_true",
        help="jusText-lite block cleaning before the heuristic gates: "
        "drop nav/footer/link-rail blocks from the extracted text "
        "(map-only array prefix scan — adds no shuffle); the shipped "
        "text, n_words/n_chars and the scrub see cleaned text",
    )
    ap.add_argument(
        "--wet", action="store_true",
        help="treat --pages as a glob of *.warc.wet.gz containers "
        "(Common Crawl WET): parse conversion records and run the "
        "score/rules/scrub stages over their pre-extracted text",
    )
    ap.add_argument(
        "--robots", default=None, metavar="PATH",
        help="(host, robots_txt) parquet: record crawl-compliance as "
        "the robots_allowed lineage column (broadcast rules dim, "
        "map-only on the page side)",
    )
    ap.add_argument(
        "--obey-robots", action="store_true",
        help="with --robots: also gate — disallowed urls drop with "
        "reason 'robots'",
    )
    ap.add_argument(
        "--robots-agent", default="webfilter",
        help="User-agent the robots rules are evaluated for",
    )
    ap.add_argument(
        "--canonical-dedup", action="store_true",
        help="collapse recrawl URL variants (utm/fragment/case/slash) "
        "to the newest capture per canonical URL before extraction",
    )
    ap.add_argument(
        "--layout-sort", default=None, metavar="COL[,COL...]",
        help="sort rows within each bucket by these columns before "
        "the write (no extra shuffle) so downstream range predicates "
        "get parquet row-group min/max skipping",
    )
    ap.add_argument(
        "--stream", action="store_true",
        help="drain newly-arrived page files through the full "
        "decision pipeline incrementally (trigger(availableNow), "
        "checkpointed discovery) into an epoch-partitioned "
        "decisions_stream table — re-invoking picks up only new files",
    )
    ap.add_argument(
        "--checkpoint", default=None, metavar="PATH",
        help="streaming checkpoint location (default: OUT/_checkpoint)",
    )
    ap.add_argument(
        "--max-payload-bytes", type=int, default=None, metavar="N",
        help="override the fetch-payload byte cap (default 4 MiB; "
        "0 disables): pages over the cap drop with reason "
        "max_payload_bytes and their bytes never enter an Arrow batch",
    )
    ap.add_argument(
        "--dq-check", action="store_true",
        help="after the decisions write, verify a declarative "
        "data-quality constraint suite over this run's rows "
        "(completeness/range/uniqueness, webfilter/dq.py) and append "
        "the results to the dq_audit table; reported in the summary, "
        "never a rollback",
    )
    ap.add_argument(
        "--warmup", action="store_true",
        help="run the pipeline once into a scratch dir first (JIT / "
        "python-worker warmup) so the reported timing is steady-state",
    )
    args = ap.parse_args(argv)

    if not args.pages and not args.synth:
        ap.error("either --pages or --synth N is required")

    from webfilter.session import get_spark

    spark = get_spark("webfilter-run", cores=args.cores)
    t0 = time.time()

    pages_path = args.pages
    if args.synth:
        from webfilter import synth

        pages_path = pages_path or f"{args.out}/_synth"
        synth.write_dataset(spark, args.synth, pages_path)
        pages_path = f"{pages_path}/pages.parquet"

    from webfilter import pipeline, rules

    if args.obey_robots and not args.robots:
        ap.error("--obey-robots requires --robots PATH")
    cfg = rules.DEFAULT_RULES
    if (
        args.min_quality_prob is not None
        or args.min_host_rank is not None
        or args.obey_robots
        or args.max_payload_bytes is not None
    ):
        cap = rules.DEFAULT_RULES.max_payload_bytes
        if args.max_payload_bytes is not None:
            cap = args.max_payload_bytes or None  # 0 disables
        cfg = rules.RuleConfig(
            min_quality_prob=args.min_quality_prob,
            min_host_rank=args.min_host_rank,
            obey_robots=args.obey_robots,
            max_payload_bytes=cap,
        )

    if args.warmup:
        import shutil

        scratch = f"{args.out}_warmup"
        shutil.rmtree(scratch, ignore_errors=True)
        pipeline.run_filter(
            spark, pages_path, scratch, n_buckets=args.buckets, run_id="warmup",
            cfg=cfg, canonical=args.canonical_dedup, host_prior=args.host_prior,
            boilerplate=args.boilerplate,
            robots_path=args.robots, robots_agent=args.robots_agent,
            input_format="wet" if args.wet else "pages",
        )
        shutil.rmtree(scratch, ignore_errors=True)

    if args.stream:
        for flag, name in (
            (args.dedup, "--dedup"),
            (args.canonical_dedup, "--canonical-dedup"),
            (args.host_prior, "--host-prior"),
            # min_host_rank AUTO-ENABLES the host-prior join, whose
            # ranks would be computed per micro-batch — inconsistent
            # across epochs (code-review r4c10 finding #3)
            (args.min_host_rank is not None, "--min-host-rank"),
            (args.wet, "--wet"),
            (args.robots, "--robots"),
        ):
            if flag:
                ap.error(f"{name} is batch-only; not supported with --stream")
        from pyspark.sql import functions as F

        from webfilter import streaming

        t0 = time.time()
        streaming.run_filter_stream(
            spark, pages_path, args.out,
            args.checkpoint or f"{args.out}/_checkpoint",
            cfg=cfg, n_buckets=args.buckets,
            boilerplate=args.boilerplate, dq_check=args.dq_check,
        )
        import os as _os

        if not _os.path.isdir(f"{args.out}/decisions_stream.parquet"):
            # zero micro-batches (no matching files yet) — a normal
            # bootstrap, not an error (code-review r4c10 finding #2)
            print(json.dumps({
                "mode": "stream", "rows_total": 0, "epochs_total": 0,
                "last_epoch": None,
                "wall_s": round(time.time() - t0, 2),
            }))
            return 0
        dec = spark.read.parquet(f"{args.out}/decisions_stream.parquet")
        agg = dec.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("_epoch").alias("epochs"),
            F.max("_epoch").alias("last_epoch"),
        ).collect()[0]
        wall = round(time.time() - t0, 2)
        summary = {
            "mode": "stream", "rows_total": agg["rows"],
            "epochs_total": agg["epochs"], "last_epoch": agg["last_epoch"],
            "wall_s": wall,
        }
        if args.dq_check:
            # corpus-so-far dq from the LAST epoch's corpus-scope
            # audit rows (each epoch re-verifies the accumulated
            # state, so the newest epoch's rows are the final word);
            # the table is absent when the drain processed zero new
            # micro-batches and no earlier dq-enabled epoch ran
            import os as _os

            audit_path = f"{args.out}/dq_audit_stream.parquet"
            if _os.path.isdir(audit_path):
                rows = (
                    spark.read.parquet(audit_path)
                    .filter(F.col("scope") == "corpus")
                    .collect()
                )
                last = max((r["epoch"] for r in rows), default=None)
                summary["dq_corpus"] = {
                    r["constraint"]: {
                        "metric": r["metric"], "passed": r["passed"],
                    }
                    for r in rows
                    if r["epoch"] == last
                }
            else:
                summary["dq_corpus"] = {}
        print(json.dumps(summary))
        return 0

    t0 = time.time()
    res = pipeline.run_filter(
        spark, pages_path, args.out, n_buckets=args.buckets, run_id=args.run_id,
        cfg=cfg, canonical=args.canonical_dedup, host_prior=args.host_prior,
        boilerplate=args.boilerplate,
        layout_sort=args.layout_sort.split(",") if args.layout_sort else None,
        robots_path=args.robots, robots_agent=args.robots_agent,
        input_format="wet" if args.wet else "pages",
        dq_check=args.dq_check,
    )
    res["wall_s"] = round(time.time() - t0, 2)
    res["docs_per_s"] = round(res["docs"] / max(res["wall_s"], 1e-9), 1)
    if args.dedup:
        res["dedup"] = pipeline.run_near_dedup(
            spark, args.out, n_buckets=args.buckets, run_id=args.run_id
        )
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
