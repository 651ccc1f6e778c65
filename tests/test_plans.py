"""Physical-plan shape gates: predicate pushdown, column pruning and
broadcast joins must not silently regress (they are the difference
between a scan that reads 2 columns and one that reads the whole
100 TB table)."""

from __future__ import annotations

import pytest
from _plan import blocks, final_plan, formatted, nodes
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_exchange_count_reads_a_known_shuffle(spark):
    """Positive control for nodes(): a scan plans no exchange, a
    groupBy one; a broadcast join one BroadcastExchange and one
    BroadcastHashJoin and no shuffle; a merge join one SortMergeJoin
    over two shuffles. A change to the explain format fails here
    instead of zeroing every plan gate."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids, langs = docs.select("doc_id"), docs.select("doc_id", "lang")
    kinds = ("Exchange", "BroadcastExchange", "BroadcastHashJoin", "SortMergeJoin")

    def census(df):
        plan = formatted(df)
        return tuple(nodes(plan, k) for k in kinds), plan

    assert census(ids)[0] == (0, 0, 0, 0)
    got, plan = census(docs.groupBy("lang").count())
    assert got == (1, 0, 0, 0), plan
    got, plan = census(ids.join(F.broadcast(langs), "doc_id"))
    assert got == (0, 1, 1, 0), plan
    got, plan = census(ids.hint("merge").join(langs, "doc_id"))
    assert got == (2, 0, 0, 1), plan


def test_filter_pushdown_to_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted(docs.filter(F.col("lang") == "en").select("doc_id"))
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan or "lang" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    from webfilter.entry_queries import q_token_counts

    plan = formatted(q_token_counts(spark, SF))
    # the scan must read only doc_id + text, not the whole schema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_bucket_filter_is_pushed(spark, synth_dir):
    """Resume filtering prunes with a pushed-down IN over the
    partition column of the decisions table."""
    from webfilter import pipeline
    from webfilter.tables import ParquetCatalog

    out = f"{synth_dir}/../plans_out"
    pipeline.run_filter(spark, f"{synth_dir}/pages.parquet", out, n_buckets=8, run_id="p")
    dec = ParquetCatalog(spark, out).read("decisions").filter(
        F.col("bucket_id").isin([1, 2])
    )
    plan = formatted(dec.select("url"))
    # bucket_id is the physical partition column -> partition pruning
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "bucket_id" in seg


def test_resumed_lineage_scan_prunes_buckets(spark, synth_dir, tmp_path, monkeypatch):
    """A resumed run's audit re-read of the decisions it just wrote
    scans only its pending buckets (a partition filter on bucket_id),
    like the pages scan."""
    from webfilter import pipeline

    pages, out = f"{synth_dir}/pages.parquet", str(tmp_path / "resume")
    pipeline.run_filter(spark, pages, out, n_buckets=8, run_id="r1",
                        only_buckets=[0, 1, 2, 3, 4, 5])
    seen = []
    run_rows = pipeline._run_rows

    def spy(*args):
        dec = run_rows(*args)
        seen.append(formatted(dec.select("url")))
        return dec

    monkeypatch.setattr(pipeline, "_run_rows", spy)
    r = pipeline.run_filter(spark, pages, out, n_buckets=8, run_id="r2")
    assert r["buckets"] == 2 and len(seen) == 1
    seg = seen[0].split("PartitionFilters")[1][:200]
    assert "bucket_id" in seg, seen[0]


def test_host_audit_is_one_exchange_over_partial_agg(spark, synth_dir, tmp_path, monkeypatch):
    """The per-host audit needs no salt: its plan has exactly one
    Exchange, with the partial HashAggregate below it, so a hot host
    (~35% of rows) sends one row per map task."""
    from webfilter import pipeline
    from webfilter.tables import ParquetCatalog

    plans = []
    append = ParquetCatalog.append

    def spy(self, df, name, part_col=None):
        if name == "host_audit":
            plans.append(formatted(df))
        return append(self, df, name, part_col)

    monkeypatch.setattr(ParquetCatalog, "append", spy)
    pipeline.run_filter(spark, f"{synth_dir}/pages.parquet",
                        str(tmp_path / "hosts"), n_buckets=8, run_id="h")
    exchanges = blocks(plans[0], "Exchange")
    partial = [i for i, b in blocks(plans[0], "HashAggregate").items()
               if "partial_count" in b]
    assert len(exchanges) == 1, plans[0]
    # the partial aggregate is the exchange's child
    assert [i - 1 for i in exchanges] == partial, plans[0]


def test_broadcast_in_topk(spark):
    from webfilter.entry_queries import q_cosine_topk

    plan = formatted(q_cosine_topk(spark, SF))
    assert "Broadcast" in plan  # probe side broadcast, no shuffle join


def test_single_shuffle_in_filter_transform(spark, synth_dir):
    """The hot path has exactly one wide shuffle (latest-per-url
    window); more means a regression."""
    from webfilter import pipeline

    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    plan = formatted(pipeline.filtered_frame(pages))
    n_exchanges = nodes(plan, "Exchange")
    assert n_exchanges <= 1, f"expected <=1 Exchange nodes, got {n_exchanges}\n{plan[:2000]}"


@pytest.fixture(scope="module")
def written_frame(spark, synth_dir, tmp_path_factory):
    """(frame, plan): the frame run_filter hands to the decisions
    write, caught by a spy on ParquetCatalog.overwrite_partitions, and
    its formatted plan taken before anything runs it. 4 buckets over
    the suite's 8 shuffle partitions leave at least 4 of them empty."""
    from webfilter import pipeline
    from webfilter.tables import ParquetCatalog

    caught = []
    overwrite = ParquetCatalog.overwrite_partitions

    def spy(self, df, name, part_col):
        if name == "decisions":
            caught.append((df, formatted(df)))
        return overwrite(self, df, name, part_col)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ParquetCatalog, "overwrite_partitions", spy)
        pipeline.run_filter(spark, f"{synth_dir}/pages.parquet",
                            str(tmp_path_factory.mktemp("written")),
                            n_buckets=4, run_id="w")
    assert len(caught) == 1
    return caught[0]


def test_run_filter_shape_is_single_shuffle(written_frame):
    """The frame run_filter writes — bucket repartition, then the
    (bucket_id, url) dedup window — must plan exactly ONE exchange:
    the window's ClusteredDistribution is satisfied by the existing
    HashPartitioning(bucket_id) because bucket_id is a pure function
    of url. A second exchange means the write-alignment re-shuffle of
    finished decision rows is back (the pre-round-4 plan)."""
    _, plan = written_frame
    n = nodes(plan, "Exchange")
    assert n == 1, f"expected 1 physical Exchange, got {n}:\n{plan[:2000]}"


def test_run_filter_bucket_shuffle_is_coalesced(written_frame):
    """AQE may coalesce the bucket shuffle, so the fused-UDF stage runs
    no task on an empty partition: each such task costs a Python
    worker ~0.2 CPU-s whatever it holds. A repartition pinned to a
    count is never coalesced."""
    df, _ = written_frame
    df.collect()  # runs this frame's own adaptive plan to its final form
    final = final_plan(formatted(df))
    exchanges = [i for i, b in blocks(final, "Exchange").items() if "hashpartitioning" in b]
    assert len(exchanges) == 1, final
    reads = [i for i, b in blocks(final, "AQEShuffleRead").items()
             if "Arguments: coalesced" in b]
    # Exchange -> ShuffleQueryStage -> the coalesced read of that stage
    assert [i + 2 for i in exchanges] == reads, final


def test_whole_stage_codegen_covers_rules(spark):
    from webfilter import rules

    df = rules.with_heuristics(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = formatted(rules.with_decision(
        rules.model_rule_columns(
            df.withColumns({"langid": F.lit("en"), "langid_conf": F.lit(1.0), "perplexity": F.lit(1.0)})
        )
    ))
    # formatted mode marks codegen'd operators with [codegen id : N];
    # higher-order funcs (aggregate/transform lambdas) legitimately
    # stay interpreted, but the scan->project spine must be codegen'd
    assert "codegen id" in plan


def test_asof_join_has_no_cartesian(spark):
    """as-of join must plan as one keyed window, never a range
    cross-join (the naive formulation explodes at scale)."""
    from webfilter.entry_queries import q_asof_join

    plan = formatted(q_asof_join(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" in plan
    # exactly one wide exchange: the per-user window partitioning
    assert nodes(plan, "Exchange") <= 1, plan[:1500]


def test_lsh_probe_side_is_broadcast(spark):
    from webfilter.entry_queries import q_lsh_topk

    plan = formatted(q_lsh_topk(spark, SF))
    assert "Broadcast" in plan  # probes broadcast; corpus never shuffled for the join


def test_omitted_dim_raises_never_probes(spark):
    """simsearch shares dedup's contract: omitting dim raises at
    construction instead of running a first() job (VERDICT r3 #5 —
    the modules previously disagreed)."""
    from webfilter.simsearch import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="dim is required"):
        lsh_topk(emb, emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding"))


def test_registry_construction_is_action_free(spark):
    """No registry query may launch a Spark job during CONSTRUCTION
    (VERDICT r2 #5): at 10^12 rows a hidden first()/limit() probe is a
    full-scan-shaped surprise inside what callers treat as plan-only
    code. Two documented exceptions: the IVF codebook index build is
    warmed (and cached) before the probe; pagerank_hosts is an
    ITERATIVE algorithm whose loop checkpoints convert plan segments
    to RDDs at construction, firing the segments' broadcast-exchange
    prepares — bounded node-dimension jobs, so for it the gate checks
    BOUNDEDNESS (every construction stage is tiny) instead of
    zero-jobs, which is the property the rule actually protects."""
    import __spark_entry__ as entry_mod
    from webfilter import entry_queries

    qs = entry_mod.queries()
    entry_queries.q_ivf_topk(spark, SF)  # documented index-build action
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def data_jobs(group: str) -> list[str]:
        """Jobs other than parquet footer/schema inference — that one
        ('parquet at ...', one task per read) is bounded metadata every
        spark.read.parquet performs, not a data probe."""
        bad = []
        for j in tracker.getJobIdsForGroup(group) or []:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = tracker.getStageInfo(s)
                if si and not si.name.startswith("parquet at"):
                    bad.append(f"job {j} stage '{si.name}' ({si.numTasks} tasks)")
        return bad

    def big_jobs(group: str, max_tasks: int) -> list[str]:
        bad = []
        for j in tracker.getJobIdsForGroup(group) or []:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = tracker.getStageInfo(s)
                if si and si.numTasks > max_tasks:
                    bad.append(f"job {j} stage '{si.name}' ({si.numTasks} tasks)")
        return bad

    try:
        for name, fn in qs.items():
            grp = f"construction_probe_{name}"
            sc.setJobGroup(grp, "registry construction must be plan-only")
            fn(spark, SF)
            if name in (
                "pagerank_hosts",
                "pagerank_personalized",
                "graph_components",
                "kcore_peel",
                "kmeans_assign",  # per-iteration k-row centroid collect
                "semdedup_kmeans",  # same Lloyd training at construction
            ):
                # iterative exception: the lazily-checkpointed loop
                # segments execute at construction, so jobs are
                # allowed but must be node-dim bounded, never
                # corpus-scan-shaped (bound: 2x the 8-way test
                # shuffle width — pagerank stages stay at <= 8,
                # label-prop's union+groupBy coalesces to 9)
                bad = big_jobs(grp, max_tasks=16)
                assert not bad, f"{name} construction ran BIG jobs: {bad}"
            else:
                bad = data_jobs(grp)
                assert not bad, f"{name} construction launched data jobs: {bad}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_semdedup_kmeans_pair_join_is_cluster_local(spark):
    """The SemDeDup pair join must be an equi-join on cluster id —
    a cartesian/nested-loop here means the dedup went all-pairs,
    which is the plan that dies at corpus scale."""
    from webfilter.entry_queries import q_semdedup_kmeans

    plan = formatted(q_semdedup_kmeans(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_minhash_candidate_join_is_equi(spark):
    """Banded LSH candidates come from a hash equi-join on the short
    (band, hash) key — a nested-loop/cartesian here means the banding
    broke and the plan went all-pairs."""
    from webfilter.dedup import lsh_candidate_pairs, minhash_signature_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = minhash_signature_df(docs, k=2)
    plan = formatted(lsh_candidate_pairs(sig))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_minhash_cold_start_has_no_band_state_join(spark):
    """A cold start (no persisted band table) takes its candidates
    from the batch's own bands. A join keyed on band_hash here is the
    cross join against band state, which on a cold start would
    broadcast the whole corpus band table."""
    from webfilter.dedup import incremental_minhash_pairs, release_cached

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    pairs, _ = incremental_minhash_pairs(docs, None, docs, k=2)
    keys = [ln for ln in formatted(pairs).splitlines() if " keys " in ln]
    release_cached()
    assert keys  # the verify joins are planned
    assert not [ln for ln in keys if "band_hash" in ln], keys


def test_decontaminate_corpus_side_never_shuffles(spark):
    """The 100 TB corpus side must reach the benchmark-gram join via
    broadcast — a SortMergeJoin here means the full exploded gram
    stream shuffles, which is the plan that dies at scale."""
    from webfilter.entry_queries import q_decontaminate

    plan = formatted(q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    # wide exchanges: benchmark-gram distinct + per-doc hit count only
    assert nodes(plan, "Exchange") <= 2, plan[:1500]


def test_frequent_terms_verify_join_is_broadcast(spark):
    """Exact-verify must join the token stream against BROADCAST
    candidates — the full vocabulary never shuffles."""
    from webfilter.entry_queries import q_frequent_terms

    plan = formatted(q_frequent_terms(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan


def test_bloom_anti_probe_is_broadcast_routed(spark):
    """The bitmap reaches probes as a broadcast single row (nested-
    loop cross of 1 row), and the exact anti-join exists only for the
    maybe sliver — the probe table itself must not sort-merge."""
    from webfilter.entry_queries import q_bloom_anti_frontier

    plan = formatted(q_bloom_anti_frontier(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_allpairs_join_is_equi_never_cartesian(spark):
    """The AllPairs/PPJoin exact similarity self-join must plan its
    candidate stage as a shingle-keyed equi-join (SortMergeJoin /
    ShuffledHashJoin on w), never a cartesian or nested-loop product
    — at 10^12 docs the cross form is unrunnable; equality with
    brute force is separately proven by the DuckDB oracle."""
    from webfilter.entry_queries import q_allpairs_jaccard

    plan = formatted(q_allpairs_jaccard(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # every join in the plan is hash-keyed (at sf0.01 AQE broadcasts
    # the small sides; at scale the same keys sort-merge)
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_shipping_priority_plan_shape(spark):
    """TPC-H Q3: filters pushed to all three scans, the customer dim
    broadcast, exactly ONE exchange (the grouped-revenue shuffle),
    and top-10 via TakeOrderedAndProject — never a global Sort."""
    from webfilter.entry_queries import q_shipping_priority

    plan = formatted(q_shipping_priority(spark, SF))
    assert nodes(plan, "BroadcastHashJoin") >= 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # pushed date/segment predicates reach the parquet scans
    assert plan.count("PushedFilters: [") >= 3
    assert nodes(plan, "Exchange") <= 1, plan


def test_triangle_count_has_no_cartesian(spark):
    from webfilter.entry_queries import q_triangle_counts

    plan = formatted(q_triangle_counts(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_name_pairs_joins_on_variant(spark):
    """The SymSpell self-join must be an equi-join on the variant
    string — a cartesian/nested-loop here means the deletion
    neighborhood stopped doing its job."""
    from webfilter.entry_queries import q_fuzzy_name_pairs

    plan = formatted(q_fuzzy_name_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_centroid_dim_is_broadcast(spark):
    """The ONLY nested-loop join allowed is the deliberate broadcast
    of the k-row centroid dim; the within-cluster pair join must be
    an equi-join on the cluster key."""
    from webfilter.entry_queries import q_semdedup_drops

    plan = formatted(q_semdedup_drops(spark, SF))
    assert "CartesianProduct" not in plan
    # the assignment subtree (with its one centroid crossJoin) feeds
    # BOTH sides of the pair self-join, so the plan duplicates it:
    # 2 BNLJ nodes. Anything beyond that means a non-broadcast nested
    # loop crept in.
    assert nodes(plan, "BroadcastNestedLoopJoin") <= 2, plan


def test_minhash_md5_bands_equijoin(spark):
    from webfilter.entry_queries import q_minhash_md5

    plan = formatted(q_minhash_md5(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_plan_shape(spark):
    """BM25: the query-term dim and (N, avgdl) scalar must broadcast,
    the final top-10 must be TakeOrderedAndProject (per-partition
    top-k) — never a global single-task Sort/window over the corpus —
    and nothing may form a CartesianProduct (the 1-row stats join is
    a broadcast nested loop, which is fine)."""
    from webfilter.entry_queries import q_bm25_rank

    plan = formatted(q_bm25_rank(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert nodes(plan, "BroadcastExchange") >= 2, plan


def test_pmi_topk_plan_shape(spark):
    """PMI collocations: the two single-row totals must reach the
    candidate set as a broadcast (never a shuffled join), and the
    global top-20 must be TakeOrderedAndProject (per-partition top-k)
    — a full corpus-wide Sort would serialize the vocabulary through
    one task at 100 TB."""
    from webfilter.entry_queries import q_pmi_collocations

    plan = formatted(q_pmi_collocations(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert nodes(plan, "BroadcastExchange") >= 1, plan


def test_script_profile_is_map_only(spark):
    """script_profile: pure Column regexp counts over the scan — any
    Exchange would mean a 100-TB corpus shuffles for a per-row
    projection."""
    from webfilter.entry_queries import q_script_profile

    plan = formatted(q_script_profile(spark, SF))
    assert nodes(plan, r"\w*Exchange") == 0, plan
    assert "pythonUDF" not in plan.split("== Physical Plan ==")[1].lower(), plan


def test_char_entropy_two_uniform_shuffles(spark):
    """char_entropy: exactly the (doc_id, ch) count shuffle and the
    doc_id re-agg — both partial-aggregated map-side; the 512-cp
    prefix bound keeps the explode amplification constant."""
    from webfilter.entry_queries import q_char_entropy

    plan = formatted(q_char_entropy(spark, SF))
    assert nodes(plan, "Exchange") == 2, plan
    assert nodes(plan, "HashAggregate") == 4, plan  # 2 aggs x partial+final


def test_url_templates_single_count_pipeline(spark):
    """url_templates: skeletonization is map-side; the only shuffles
    are countDistinct's two-phase (host, skeleton, path) ->
    (host, skeleton) cascade, both partial-aggregated. The scan must
    prune to the two columns the synth needs."""
    from webfilter.entry_queries import q_url_templates

    plan = formatted(q_url_templates(spark, SF))
    assert nodes(plan, "Exchange") == 2, plan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan, plan


def test_runtime_shuffle_audit_measures_broadcast_claim(spark):
    """jobs/audit_shuffle.py harvests SQLMetrics from the executed
    plan. Beyond exercising the traversal (AQE stages, broadcast
    wrappers), assert the RUNTIME counterpart of the
    host_lang_outliers plan gate: the corpus rows reach the result
    through a broadcast join, so shuffle records (dim only) stay far
    below scanned rows."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from audit_shuffle import audit_query

    from webfilter.entry_queries import q_host_lang_outliers

    acc = audit_query(q_host_lang_outliers(spark, SF))
    assert acc["scan_rows"] > 0
    assert acc["n_broadcasts"] >= 1
    # dim-only shuffle: (source, lang) pairs, not corpus rows
    assert acc["shuffle_records"] < acc["scan_rows"] / 2, acc
    assert acc["shuffle_amplification"] < 0.5, acc


def test_host_lang_outliers_one_corpus_pass(spark):
    """host_lang_outliers: the corpus must be scanned exactly twice
    (probe side + ONE dim build — host totals come from a window over
    the aggregated dim, never a second corpus groupBy), and the probe
    side must reach the join without an Exchange (broadcast dim)."""
    from webfilter.entry_queries import q_host_lang_outliers

    plan = formatted(q_host_lang_outliers(spark, SF))
    assert nodes(plan, "Scan parquet") == 2, plan
    assert nodes(plan, "BroadcastHashJoin") >= 1, plan
    # only the dim build shuffles: the (source, lang) count exchange
    # plus the window's (source) re-key of the ALREADY-AGGREGATED dim
    # — both move host-cardinality rows, never corpus rows
    assert nodes(plan, "Exchange") == 2, plan


def test_zorder_key_is_map_only_over_the_scan(spark):
    """with_zorder: the big side gets the key via a broadcast of the
    one-row min/max agg — no shuffle may touch the scan side (at
    100 TB the key computation must stay map-only; the only range
    shuffle belongs to the WRITE, not the key)."""
    from webfilter.zorder import with_zorder

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = formatted(with_zorder(ev, ["user_id", "event_id"], bits=12))
    assert "CartesianProduct" not in plan
    # the only allowed non-broadcast exchange is the scalar agg's
    # partial->final SinglePartition merge (it moves one 4-value row
    # per input split, never scan data); any hash/range exchange
    # would mean the scan side shuffled
    n_scalar = plan.count("Arguments: SinglePartition")
    assert nodes(plan, "Exchange") == n_scalar == 1, plan


def test_crawl_frontier_broadcasts_reputation(spark):
    """crawl_frontier: the host-reputation dim must broadcast into
    the sitemap side (rows ∝ hosts — never a shuffled join), and no
    cartesian product may appear anywhere in the composition."""
    from webfilter.entry_queries import q_crawl_frontier

    plan = formatted(q_crawl_frontier(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cdx_roundtrip_is_shuffle_free(spark):
    """CDXJ serialize + parse is pure map-side Column work: a 100 TB
    index round-trips as a scan with ZERO exchanges of any kind."""
    from webfilter.entry_queries import q_cdx_roundtrip

    plan = formatted(q_cdx_roundtrip(spark, SF))
    assert nodes(plan, r"\w*Exchange") == 0, plan
