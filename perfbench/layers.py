"""Per-layer probes of the traced run.

Each probe times a call into one public ``webfilter`` function from
the benchmark's side.  Stage walls force a frame with a ``noop`` write;
a layer's self time is the wall of the frame that adds it minus the
wall of the frame it was built on (the marginal cost of the layer in
the lazy plan), floored at 0.  SQL metrics come from the shuffle
audit's plan walker.
"""

from __future__ import annotations

import random
import time

import pandas as pd

from spans import force, plan_metrics

#: (name, unit, better) of every per-layer metric a traced run prints.
#: A layer a workload never enters reads 0.
PER_LAYER = [
    ("op_wall_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    *[(f"kernels.{k}.us_per_doc", "us", "lower")
      for k in ("extract", "langid", "perplexity", "qualityclf", "scrubber")],
    ("kernels.scrubber.hit_frac", "frac", "higher"),
    ("scoring.arrow_hop_s", "s", "lower"),
    ("scoring.fused_udf_s", "s", "lower"),
    ("scoring.kernel_share", "frac", "higher"),
    ("scoring.kernel_op_share", "frac", "higher"),
    ("tables.scan_s", "s", "lower"),
    ("tables.latest_per_url_s", "s", "lower"),
    ("partitioning.shuffle_bytes", "bytes", "lower"),
    ("tables.spill_bytes", "bytes", "lower"),
    ("tables.write_decisions_s", "s", "lower"),
    ("tables.bytes_written_per_doc", "bytes/doc", "lower"),
    ("pipeline.audit_s", "s", "lower"),
    ("pipeline.host_audit_s", "s", "lower"),
    ("pipeline.filtered_frame_s", "s", "lower"),
    ("rules.decision_s", "s", "lower"),
    ("scrub.with_scrubbed_s", "s", "lower"),
    ("boilerplate.removed_s", "s", "lower"),
    ("dedup.minhash_pairs_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "frac", "higher"),
    ("dedup.max_bucket_size", "count", "lower"),
    ("dedup.shuffle_bytes", "bytes", "lower"),
    ("dedup.survivor_write_s", "s", "lower"),
    ("dedup.dup_recall", "frac", "higher"),
    *[(f"entry_queries.{q}_s", "s", "lower") for q in (
        "kneser_ney_lm_score", "pagerank_hosts", "dedup_minhash_pairs",
        "dedup_embedding_pairs", "simsearch_lsh_topk", "simsearch_ivfpq_adc",
        "semdedup_kmeans", "kmeans_assign", "token_counts", "bigram_counts",
        "quality_filter_full", "scrub_pii", "events_sessionized",
        "crawl_frontier", "funnel_conversion", "bloom_anti_frontier",
        "shipping_priority", "zorder_cells",
    )],
    ("session.get_spark_s", "s", "lower"),
    ("session.first_udf_s", "s", "lower"),
    ("session.warm_op_s", "s", "lower"),
    ("pipeline.ledger_residual_frac", "frac", "lower"),
    ("trace.op_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("host.mem_bw_gbps", "GB/s", "higher"),
    ("host.steal_frac", "frac", "lower"),
    ("host.loadavg", "load", "lower"),
    ("host.own_util", "frac", "higher"),
    ("prep.corpus_gen_s", "s", "lower"),
]

REGISTRY_QUERIES = [
    n[len("entry_queries."):-2] for n, _u, _b in PER_LAYER
    if n.startswith("entry_queries.")
]
#: the queries each workload's traced run passes over
REGISTRY_SPLIT = {"filter_html": REGISTRY_QUERIES[0::2],
                  "near_dedup": REGISTRY_QUERIES[1::2]}


def _hop_udf():
    """Identity-cost pandas UDF with the fused UDF's input and output
    schema: the Arrow round trip with no kernel work."""
    from pyspark.sql import functions as F
    from webfilter.scoring import EXTRACT_SCORE_SCRUB_SCHEMA

    def hop(html: pd.Series) -> pd.DataFrame:
        text = html.str.decode("latin-1")
        return pd.DataFrame({
            "text": text, "title": "", "extract_err": None, "langid": "en",
            "langid_conf": 0.0, "perplexity": 0.0, "quality_prob": 0.0,
            "scrubbed_text": text,
        })

    return F.pandas_udf(hop, EXTRACT_SCORE_SCRUB_SCHEMA)


def _marginal(hi: float, lo: float) -> float:
    return max(0.0, hi - lo)


def kernel_costs(html: pd.Series, reps: int = 3) -> dict:
    """Single-core µs/doc of each fused-UDF kernel on a local pandas
    batch of the workload's own pages (models loaded first)."""
    from webfilter.kernels import extract, langid, perplexity, qualityclf, scrubber

    html = html.reset_index(drop=True)
    text = extract.extract_batch(html)["text"].fillna("")
    calls = {
        "extract": lambda: extract.extract_batch(html),
        "langid": lambda: langid.predict_batch(text),
        "perplexity": lambda: perplexity.score_batch(text),
        "qualityclf": lambda: qualityclf.quality_prob_batch(text),
        "scrubber": lambda: scrubber.scrub_texts(text),
    }
    out = {}
    for name, fn in calls.items():
        fn()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[f"kernels.{name}.us_per_doc"] = sorted(ts)[reps // 2] / len(html) * 1e6
    out["kernels.scrubber.hit_frac"] = float((scrubber.scrub_texts(text) != text).mean())
    return out


def filter_ledger(spark, tracer, pages_path: str, buckets: int) -> tuple[dict, dict]:
    """Stage walls of one run_filter rebuilt frame by frame, plus the
    boilerplate path's two stages and the check of its JVM scrub
    against the Python scrubber.  Returns (metrics, raw walls)."""
    from pyspark.sql import functions as F
    from webfilter import boilerplate, rules, scoring, scrub
    from webfilter.kernels import scrubber
    from webfilter.partitioning import with_bucket
    from webfilter.pipeline import filtered_frame
    from webfilter.tables import latest_per_url

    cfg = rules.DEFAULT_RULES
    und = cfg.min_langid_conf
    w = {}
    with tracer.span("ledger.filter", op=tracer.new_op()):
        raw = spark.read.parquet(pages_path)
        pages = with_bucket(raw, buckets).repartition(2 * buckets, "bucket_id")
        latest = latest_per_url(pages, cluster_col="bucket_id")
        scored = scoring.with_extract_scores_scrub(latest, und_threshold=und)
        extracted = scoring.with_extract_and_scores(latest, und_threshold=und)
        cleaned = boilerplate.with_boilerplate_removed(extracted, "text")
        frames = {
            "tables.scan": raw,
            "tables.latest_per_url": latest,
            "scoring.arrow_hop": latest.select(_hop_udf()(F.col("html")).alias("h")),
            "scoring.fused_udf": scored,
            "pipeline.filtered_frame": filtered_frame(pages, cfg, bucket_clustered=True),
            "scoring.extract_scores": extracted,
            "boilerplate.removed": cleaned,
            "scrub.with_scrubbed": scrub.with_scrubbed(cleaned),
        }
        for name, df in frames.items():
            with tracer.span(name):
                w[name] = force(df)
        with tracer.span("partitioning.plan_metrics"):
            pm = plan_metrics(latest)
        with tracer.span("scrub.check"):
            got = frames["scrub.with_scrubbed"].select("url", "text", "scrubbed_text").toPandas()
            bad = got["scrubbed_text"] != scrubber.scrub_texts(got["text"])
            w["boilerplate_scrub_rows"] = len(got)
            w["boilerplate_scrub_mismatch"] = sorted(got.loc[bad, "url"])
    m = {
        "tables.scan_s": w["tables.scan"],
        "tables.latest_per_url_s": _marginal(w["tables.latest_per_url"], w["tables.scan"]),
        "scoring.arrow_hop_s": _marginal(w["scoring.arrow_hop"], w["tables.latest_per_url"]),
        "scoring.fused_udf_s": _marginal(w["scoring.fused_udf"], w["tables.latest_per_url"]),
        # the Column rules plus the payload cap and pii_found projections
        # filtered_frame adds around the fused UDF
        "rules.decision_s": _marginal(w["pipeline.filtered_frame"], w["scoring.fused_udf"]),
        "pipeline.filtered_frame_s": w["pipeline.filtered_frame"],
        "boilerplate.removed_s": _marginal(w["boilerplate.removed"], w["scoring.extract_scores"]),
        "scrub.with_scrubbed_s": _marginal(w["scrub.with_scrubbed"], w["boilerplate.removed"]),
        "partitioning.shuffle_bytes": float(pm["shuffle_bytes"]),
    }
    return m, {**w, "plan": pm}


def dedup_ledger(spark, tracer, out_root: str, run_id: str) -> tuple[dict, dict]:
    """Candidate generation and survivor stages of one run_near_dedup
    over its decisions table, with the LSH counters."""
    from pyspark.sql import functions as F
    from webfilter import dedup

    w = {}
    with tracer.span("ledger.dedup", op=tracer.new_op()):
        dec = spark.read.parquet(f"{out_root}/decisions.parquet").filter(F.col("keep"))
        pairs = dedup.minhash_dedup_pairs(
            dec, id_col="url", text_col="scrubbed_text", threshold=0.7,
            collapse_exact=True,
        )
        cur = spark.read.parquet(f"{out_root}/dup_pairs.parquet").filter(
            F.col("run_id") == run_id
        )
        kept = dec.join(cur.select(F.col("url_b").alias("url")).distinct(), "url", "left_anti")
        for name, df in (("tables.scan", dec), ("dedup.minhash_pairs", pairs),
                         ("dedup.survivor_write", kept)):
            with tracer.span(name):
                w[name] = force(df)
        with tracer.span("dedup.plan_metrics"):
            pm = plan_metrics(pairs)
        reps = dedup.exact_dedup(dec, "scrubbed_text", "url").select("url", "scrubbed_text")
        sig = dedup.minhash_signature_df(reps, "url", "scrubbed_text")
        with tracer.span("dedup.band_table"):
            max_bucket = (
                dedup.band_table(sig, "url").groupBy("band_idx", "band_hash")
                .count().agg(F.max("count")).first()[0]
            )
        cand = dedup.lsh_candidate_pairs(sig, "url")
        with tracer.span("dedup.candidates"):
            n_cand = cand.count()
        with tracer.span("dedup.verify"):
            n_ver = dedup.jaccard_verify(reps, cand, "url", "scrubbed_text").count()
    m = {
        "tables.scan_s": w["tables.scan"],
        "dedup.minhash_pairs_s": w["dedup.minhash_pairs"],
        "dedup.survivor_write_s": w["dedup.survivor_write"],
        "dedup.shuffle_bytes": float(pm["shuffle_bytes"]),
        "dedup.max_bucket_size": float(max_bucket or 0),
        "dedup.candidate_pairs": float(n_cand),
        "dedup.verified_pairs": float(n_ver),
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
    }
    return m, {**w, "plan": pm}


def registry_pass(spark, tracer, sf_dir: str, seed: int,
                  queries: list[str]) -> tuple[dict, dict]:
    """One pass over ``queries`` in seeded order, each forced with
    ``.count()``.  Returns (walls by metric name, rows)."""
    from webfilter.dedup import release_cached
    from webfilter.entry_queries import REGISTRY

    order = list(queries)
    random.Random(seed).shuffle(order)
    walls, rows = {}, {}
    with tracer.span("registry.pass", op=tracer.new_op(), order=order):
        for q in order:
            with tracer.span(f"entry_queries.{q}"):
                t0 = time.perf_counter()
                rows[q] = REGISTRY[q][0](spark, sf_dir).count()
                walls[f"entry_queries.{q}_s"] = time.perf_counter() - t0
                release_cached()
    return walls, rows
