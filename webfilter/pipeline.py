"""End-to-end quality-filter job.

Stage graph (each stage reads/writes tables, never in-memory handoff
across runs — the reference's table-state architecture,
SURVEY.md §3):

  pages --latest-per-url--> model stage (one Arrow UDF pass:
        extract, langid, perplexity, quality classifier, PII scrub)
        --> heuristic rules (pure Column exprs) --> decision
        --> decisions table
        +-> per-bucket & per-host audit metrics --> audit table
        +-> manifest DONE marks

With ``boilerplate=True`` the UDF does not scrub: block cleaning runs
after it, and the JVM regexp fold (scrub.py) scrubs the cleaned text.

Scale notes (100 TB / 10^12 docs):
* one shuffle total in the hot path (latest-per-url window on url);
  everything after it is narrow until the partitioned write;
* pending-bucket filtering is a pushed-down ``bucket_id IN (...)``
  (partition pruning against the Iceberg bucket spec — here the
  parquet partition dirs);
* per-host audit aggregation is salted two-phase (hot hosts hold
  ~35% of rows);
* the model-stage UDF sees Arrow batches of 4096 docs; model init is
  once per python worker (module import cache).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import rules, scoring, scrub
from .manifest import DONE, PENDING, RUNNING, Manifest
from .partitioning import host_col, salted_count_by_key, with_bucket
from .tables import ParquetCatalog, latest_per_url

DECISION_COLS = [
    "url", "bucket_id", "warc_ts", "text", "title", "extract_err",
    "langid", "langid_conf", "perplexity", "quality_prob", "host_rank",
    "robots_allowed",
    "n_words", "n_chars",
    "keep", "drop_reasons", "scrubbed_text", "pii_found", "run_id",
]


def filtered_frame(
    pages: DataFrame,
    cfg: rules.RuleConfig = rules.DEFAULT_RULES,
    canonical: bool = False,
    host_prior: bool = False,
    prior_pages: DataFrame | None = None,
    bucket_clustered: bool = False,
    robots: DataFrame | None = None,
    robots_agent: str = "webfilter",
    pre_extracted: bool = False,
    boilerplate: bool = False,
) -> DataFrame:
    """The pure transformation: pages -> decision rows (no writes).

    ``canonical=True`` prepends a canonical-URL dedup (urls.py):
    recrawl variants of the same page (utm-tagged, fragment,
    case-variant, trailing-slash) collapse to the NEWEST capture
    before content extraction ever runs — the cheap-first ordering
    (regex algebra before any Python/model work). Same one-shuffle
    window shape as latest_per_url; on an already-canonical corpus it
    is a behavioral no-op (golden labels unchanged, tested).

    ``host_prior=True`` (auto-enabled when cfg.min_host_rank is set)
    computes host authority from the corpus's own link graph
    (graph.host_pagerank_from_pages — one outlink extract map + one
    edge shuffle + the iterative node-keyed rounds over the SMALL
    host dimension) and broadcast-joins it as a ``host_rank``
    decision column; with cfg.min_host_rank set it also gates. The
    host dim is ~10^7 rows at full web scale — broadcastable; the
    100 TB pages side never shuffles for this join. Default off:
    host_rank is NULL and golden labels are unchanged (tested).

    ``prior_pages``: the corpus the link graph is built from.
    run_filter passes the UNfiltered pages here — a resumed run only
    reads pending buckets, and ranks computed from a partial corpus
    would make resumed buckets disagree with a clean run (the
    resume-equals-clean invariant). Hosts with no in- or out-links
    are absent from the graph: host_rank stays NULL and a configured
    min_host_rank gate drops them (NULL rule = failed, the
    with_decision contract)."""
    if canonical:
        from .urls import canonical_dedup

        pages = (
            canonical_dedup(pages, url_col="url", order_col="warc_ts", descending=True)
            .filter(F.col("canon_rep"))
            .drop("canon_url", "canon_rep")
        )
    # bucket_clustered: the caller already hash-partitioned on
    # bucket_id (a pure function of url), so the dedup window keys on
    # (bucket_id, url) and reuses that partitioning — no exchange here
    df = latest_per_url(
        pages, cluster_col="bucket_id" if bucket_clustered and not canonical else None
    )
    src = "text" if pre_extracted else "html"  # the model stage's input
    if cfg.max_payload_bytes is not None:
        # fetch-payload cap (see RuleConfig.max_payload_bytes): NULL
        # out oversize payloads BEFORE the pandas UDF so their bytes
        # never enter an Arrow batch — batches are sliced by record
        # count, so one giant page would otherwise balloon a whole
        # batch in the python worker. NULL-payload rows pass the gate
        # (nothing to ship; extraction surfaces its own null_html err).
        # length() on binary counts bytes; octet_length covers strings
        size = F.octet_length(F.col(src)) if pre_extracted else F.length(F.col(src))
        within = F.coalesce(size <= cfg.max_payload_bytes, F.lit(True))
        df = df.withColumn("rule_max_payload_bytes", within).withColumn(
            src, F.when(within, F.col(src))
        )
    # One Arrow pass runs the whole model stage. Without a boilerplate
    # stage the shipped text IS the extracted text, so the scrub fold
    # runs inside the same pass (VERDICT r4 #3) and each document is
    # traversed once; pii_found stays a JVM comparison on the way out.
    # With boilerplate on, scrub must see the CLEANED text, so the
    # JVM chain below runs instead. WET-style input (pre_extracted)
    # skips extraction and scores the given text with the same
    # kernels: given identical text, decisions are identical to the
    # html path (test-proved against the golden labels).
    df = scoring.with_model_scores(
        df,
        src,
        extract=not pre_extracted,
        scrub=not boilerplate,
        und_threshold=cfg.min_langid_conf,
    )
    if pre_extracted:
        df = df.withColumn("title", F.lit(None).cast("string")).withColumn(
            "extract_err", F.lit("pre_extracted")
        )
    if cfg.max_payload_bytes is not None:
        # honest lineage: the extract kernel saw NULL for oversize
        # rows and reported null_html; name the real cause
        df = df.withColumn(
            "extract_err",
            F.when(
                ~F.col("rule_max_payload_bytes"), F.lit("oversize_payload")
            ).otherwise(F.col("extract_err")),
        )
    if host_prior or cfg.min_host_rank is not None:
        from .graph import host_pagerank_from_pages
        from .urls import host_col as url_host

        ranks = host_pagerank_from_pages(
            prior_pages if prior_pages is not None else pages,
            html_col="html",
            url_col="url",
        )
        hosts = ranks.select(
            F.col("node").alias("_wf_host"), F.col("rank").alias("host_rank")
        )
        df = (
            df.withColumn("_wf_host", url_host(F.col("url")))
            .join(F.broadcast(hosts), "_wf_host", "left")
            .drop("_wf_host")
        )
    else:
        df = df.withColumn("host_rank", F.lit(None).cast("double"))
    if robots is not None:
        # crawl-compliance lineage/gate (webfilter/robots.py): the
        # per-host effective rules collapse to ONE broadcast row per
        # host (rules ∝ hosts, not pages) and the decision is pure
        # Column HOFs — map-only on the page side, no window, no
        # shuffle. cfg.obey_robots turns the column into a drop rule.
        from .robots import allowed_expr, parse_robots, rules_dim, url_path
        from .urls import host_col as url_host

        dim = rules_dim(parse_robots(robots), robots_agent).withColumnRenamed(
            "host", "_wf_rhost"
        )
        df = (
            df.withColumn("_wf_rhost", url_host(F.col("url")))
            .join(F.broadcast(dim), "_wf_rhost", "left")
            .withColumn(
                "robots_allowed",
                allowed_expr(url_path(F.col("url")), F.col("rules")),
            )
            .drop("_wf_rhost", "rules")
        )
    elif cfg.obey_robots:
        raise ValueError(
            "cfg.obey_robots=True requires a robots frame "
            "(host, robots_txt) — pass robots= to filtered_frame/run_filter"
        )
    else:
        df = df.withColumn("robots_allowed", F.lit(None).cast("boolean"))
    if boilerplate:
        # jusText-lite block cleaning (boilerplate.py), MAP-ONLY: the
        # context scan is a per-row array prefix scan, so this stage
        # adds zero Exchanges (plan-tested) — the single-wide-shuffle
        # pipeline shape survives with the flag on. Ordering is
        # deliberate: langid/perplexity above scored the RAW extracted
        # text (one fused Arrow pass is the pipeline's perf contract;
        # re-scoring cleaned text would buy a second pass), while the
        # heuristic gates, the scrub, and the SHIPPED text — the
        # surfaces block boilerplate actually distorts — all see the
        # cleaned text. An all-boilerplate doc cleans to '' and the
        # length gates below drop it honestly.
        from .boilerplate import with_boilerplate_removed

        df = with_boilerplate_removed(df, "text")
    df = rules.with_heuristics(df, cfg=cfg)
    df = rules.model_rule_columns(df, cfg)
    df = rules.with_decision(df, rules.rule_names_for(cfg))
    if not boilerplate:
        # scrubbed_text came out of the fused UDF; keep the exact
        # with_scrubbed NULL contract (NULL text -> '' scrubbed) and
        # pii_found comparison, both JVM-side
        df = df.withColumn(
            "scrubbed_text", F.coalesce(F.col("scrubbed_text"), F.lit(""))
        ).withColumn(
            "pii_found",
            F.col("scrubbed_text") != F.coalesce(F.col("text"), F.lit("")),
        )
    else:
        df = scrub.with_scrubbed(df)
    return df


def read_snaptable_pages(
    spark: SparkSession,
    table_dir: str,
    n_buckets: int,
    pending: list[int] | None,
    snapshot: int | None = None,
) -> DataFrame:
    """Read the pages corpus FROM a snapshot table (snaptable.py) —
    the north rule's input shape: "an Iceberg table of Common-Crawl-
    style pages".  The scan is the CURRENT snapshot's exact file list
    (no directory listing), with merge-on-read deletes applied — a
    takedown committed to the source table propagates to the next
    filter run with zero coordination.

    When the table is partitioned by ``bucket_id`` under the SAME
    bucketing contract, a resumed run (``pending`` a strict subset;
    ``pending=None`` means the full corpus) opens ONLY the pending
    buckets' files — manifest-layer pruning, file skipping before
    Spark ever lists anything.  The contract check requires the
    partition values to be EXACTLY {0..n_buckets-1}: a mere subset
    would accept a table written at a smaller n_buckets, whose files
    are labeled under a different hash modulus — pruning would then
    silently drop pending rows (code-review r4c2 finding #1).  A
    sparse or differently-bucketed table falls back to the full file
    list and stays correct, because pruning never substitutes for
    the row-level pending filter the caller still applies (the
    repo-wide pruning-narrows-I/O-never-semantics discipline).
    bucket_id must be partitioning.with_bucket's url-hash at this
    n_buckets — the documented writer contract.

    The snapshot is resolved ONCE and pinned for both the contract
    check and the read, so a concurrent commit cannot slip an
    unvalidated file set past the check (code-review r4c2 finding
    #4)."""
    import os as _os

    from .snaptable import SnapshotTable

    t = SnapshotTable(
        spark,
        _os.path.dirname(_os.path.abspath(table_dir)),
        _os.path.basename(_os.path.abspath(table_dir)),
    )
    cur = t.current_snapshot() if snapshot is None else snapshot
    if cur is None:
        raise ValueError(f"pages table {table_dir!r} has no snapshots")
    if pending is not None and len(pending) < n_buckets:
        entries, _dels, _snap = t._resolve_full(cur)
        pcols = {
            e["partition"]["col"] if e["partition"] else None
            for e in entries
        }
        bucketed = pcols == {"bucket_id"} and {
            e["partition"]["value"] for e in entries
        } == {str(b) for b in range(n_buckets)}
        if bucketed:
            return t.read(
                snapshot=cur,
                partition_filter={"bucket_id": list(pending)},
            )
    return t.read(snapshot=cur)


def run_filter(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    n_buckets: int = 32,
    cfg: rules.RuleConfig = rules.DEFAULT_RULES,
    run_id: str | None = None,
    only_buckets: list[int] | None = None,
    canonical: bool = False,
    host_prior: bool = False,
    boilerplate: bool = False,
    layout_sort: list[str] | None = None,
    robots_path: str | None = None,
    robots_agent: str = "webfilter",
    input_format: str = "pages",
    dq_check: bool = False,
) -> dict:
    """Resumable filter run. ``only_buckets`` limits this invocation
    (used by the kill/resume tests to simulate a mid-run crash).

    ``robots_path``: optional (host, robots_txt) parquet — populates
    the robots_allowed lineage column via a broadcast rules dimension
    (map-only on the page side); with cfg.obey_robots it also gates
    (drop_reasons gains 'robots').

    ``input_format="wet"``: ``pages_path`` is a glob of
    ``*.warc.wet.gz`` containers (warc.read_wet) — conversion records
    carry extracted text, so the extract stage is skipped and the
    same fused score kernels run over the given text; decisions are
    identical to the html path for identical text (test-proved).
    host_prior is unavailable (no html to mine outlinks from).

    ``layout_sort``: optional columns to sort by WITHIN each bucket
    before the write (sortWithinPartitions — a per-partition SortExec,
    no extra exchange, single-shuffle plan preserved). Clustered
    layout gives downstream range predicates (e.g. ``perplexity <
    x``, ``warc_ts >= t``) parquet row-group min/max skipping — the
    poor man's Z-ORDER, and at 100 TB the difference between a reader
    scanning every row group of every bucket file and touching only
    the ones whose stats overlap the predicate. Decision rows only
    change order within a bucket, so golden labels, fingerprints and
    resume semantics are unchanged (tested).

    ``canonical`` prepends the canonical-URL recrawl dedup stage;
    ``host_prior`` joins link-graph host authority as a host_rank
    decision column (see filtered_frame)."""
    import time as _time

    t_all = _time.time()
    timings: dict[str, float] = {}
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, out_root)
    manifest = Manifest(catalog)

    manifest.guard_schema("filter", DECISION_COLS, n_buckets)
    pending = manifest.pending_buckets(n_buckets)
    if only_buckets is not None:
        pending = [b for b in pending if b in set(only_buckets)]
    if not pending:
        return {"run_id": run_id, "buckets": 0, "docs": 0}

    if input_format == "wet":
        if host_prior or cfg.min_host_rank is not None:
            raise ValueError(
                "host_prior mines outlinks from html; WET records carry "
                "extracted text only"
            )
        from .warc import read_wet

        raw = read_wet(spark, pages_path).select(
            "url",
            "warc_ts",
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit(None).cast("string").alias("lang"),
        )
        pages_all = with_bucket(raw, n_buckets)
    elif input_format == "snaptable":
        # pages_all must be the FULL corpus: host_prior's link graph
        # is built from it, and ranks computed from a pruned corpus
        # would break the resume-equals-clean invariant (code-review
        # r4c2 finding #3). The manifest-layer file pruning applies
        # to the per-run scan (`pages`) below instead — both reads
        # pinned to ONE snapshot so a concurrent commit cannot skew
        # the host graph against the scan.
        import os as _os

        from .snaptable import SnapshotTable as _ST

        _ap = _os.path.abspath(pages_path)
        _snap_pin = _ST(
            spark, _os.path.dirname(_ap), _os.path.basename(_ap)
        ).current_snapshot()
        pages_all = with_bucket(
            read_snaptable_pages(
                spark, pages_path, n_buckets, None, snapshot=_snap_pin
            ),
            n_buckets,
        )
    elif input_format == "pages":
        import os as _os

        if _os.path.isdir(_os.path.join(pages_path, "_meta")):
            # auto-detect a snapshot-table root (the north-star input
            # shape: the pages corpus AS a table, not a file dir)
            return run_filter(
                spark, pages_path, out_root, n_buckets=n_buckets,
                cfg=cfg, run_id=run_id, only_buckets=only_buckets,
                canonical=canonical, host_prior=host_prior,
                boilerplate=boilerplate, layout_sort=layout_sort,
                robots_path=robots_path, robots_agent=robots_agent,
                input_format="snaptable", dq_check=dq_check,
            )
        pages_all = with_bucket(spark.read.parquet(pages_path), n_buckets)
    else:
        raise ValueError(f"unknown input_format {input_format!r}")
    pages = pages_all
    if input_format == "snaptable" and len(pending) < n_buckets:
        # manifest-layer file pruning for the per-run scan (full
        # fallback inside when the bucketing contract doesn't match)
        pages = with_bucket(
            read_snaptable_pages(
                spark, pages_path, n_buckets, pending, snapshot=_snap_pin
            ),
            n_buckets,
        )
    if len(pending) < n_buckets:
        # pushed-down IN-filter == partition pruning on the bucket
        # spec (still applied over the file-pruned snaptable scan:
        # pruning narrows I/O, never semantics)
        pages = pages.filter(F.col("bucket_id").isin(pending))

    manifest.mark(run_id, "filter", pending, RUNNING)

    # hash-repartition on bucket_id UP FRONT — the pipeline's ONLY
    # shuffle. bucket_id is a pure function of url, so this clustering
    # simultaneously (a) satisfies the (bucket_id, url) dedup window's
    # required distribution (no second exchange — plan-asserted), and
    # (b) lands every bucket wholly in ONE task at the write, so each
    # bucket directory gets exactly one output file (no (tasks x
    # buckets) small-file explosion). It moves the RAW pages once;
    # the old plan re-shuffled the finished decision rows (extracted
    # + scrubbed text) a second time just for write alignment. 2x
    # partitions over buckets reduces two-buckets-hash-to-one-task
    # collisions (empty tasks are free); it does NOT split a bucket.
    # At 10^12 scale buckets >> cores so every stage stays parallel.
    # canonical=True dedups on canon_url (a DIFFERENT key) first,
    # which breaks bucket clustering — that path keeps the explicit
    # pre-write repartition instead.
    if not canonical:
        pages = pages.repartition(2 * len(pending), "bucket_id")

    robots = (
        spark.read.parquet(robots_path) if robots_path is not None else None
    )
    out = filtered_frame(
        pages, cfg, canonical=canonical, host_prior=host_prior,
        prior_pages=pages_all, bucket_clustered=not canonical,
        robots=robots, robots_agent=robots_agent,
        pre_extracted=input_format == "wet", boilerplate=boilerplate,
    ).withColumn("run_id", F.lit(run_id))
    out = out.select(*DECISION_COLS)
    if canonical:
        out = out.repartition(2 * len(pending), "bucket_id")
    if layout_sort:
        out = out.sortWithinPartitions("bucket_id", *layout_sort)

    # write decisions, derive audit from the written table
    # (re-reading the sink avoids recomputing the UDF stage — the
    # reference's materialize-before-iterate design note 04:10/03:6)
    t0 = _time.time()
    catalog.overwrite_partitions(out, "decisions", "bucket_id")
    timings["write_decisions"] = round(_time.time() - t0, 2)

    t0 = _time.time()
    dec = catalog.read("decisions").filter(F.col("run_id") == run_id)
    # per-bucket lineage metrics: ONE job, collected driver-side
    # (<= n_buckets rows by construction) and reused for the audit
    # append, the DONE marks and the run summary
    rule_names = rules.rule_names_for(cfg)
    audit_rows = (
        dec.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.sum(F.col("pii_found").cast("bigint")).alias("n_pii"),
            F.avg("perplexity").alias("avg_perplexity"),
            F.avg("langid_conf").alias("avg_langid_conf"),
            # per-rule hit counts — the north rule's "rule hits"
            # lineage, one cheap conditional sum per rule in the SAME
            # single aggregation pass (no extra job, no explode)
            *(
                F.sum(
                    F.array_contains("drop_reasons", rn).cast("bigint")
                ).alias(f"_hits_{rn}")
                for rn in rule_names
            ),
        )
        .collect()
    )
    import pyarrow as pa
    from datetime import datetime, timezone

    now = datetime.now(timezone.utc)
    audit_schema = pa.schema(
        [
            ("bucket_id", pa.int32()),
            ("n_docs", pa.int64()),
            ("n_kept", pa.int64()),
            ("n_pii", pa.int64()),
            ("avg_perplexity", pa.float64()),
            ("avg_langid_conf", pa.float64()),
            ("reason_counts", pa.map_(pa.string(), pa.int64())),
            ("run_id", pa.string()),
            ("stage", pa.string()),
            ("processed_at", pa.timestamp("us", tz="UTC")),
        ]
    )

    def _audit_dict(r) -> dict:
        d = r.asDict()
        hits = [(rn, d.pop(f"_hits_{rn}")) for rn in rule_names]
        return {
            **d,
            "reason_counts": hits,
            "run_id": run_id,
            "stage": "filter",
            "processed_at": now,
        }

    catalog.append_rows(
        [_audit_dict(r) for r in audit_rows],
        audit_schema,
        "audit",
    )
    timings["audit"] = round(_time.time() - t0, 2)

    # skew-safe per-host metrics (hot hosts!) — salted two-phase agg
    t0 = _time.time()
    host_stats = salted_count_by_key(
        dec.withColumn("host", host_col(F.col("url"))),
        "host",
        aggs={"n_kept": F.sum(F.col("keep").cast("bigint"))},
        salt_from="url",  # varies within a hot host -> real spread
    ).withColumn("run_id", F.lit(run_id))
    catalog.append(host_stats, "host_audit")
    timings["host_audit"] = round(_time.time() - t0, 2)

    summary: dict = {}
    if dq_check:
        # post-write data-quality gate (opt-in): declarative
        # constraints over THIS run's decision rows, evaluated from
        # per-bucket mergeable state (webfilter/dq.py) — one extra
        # bucket-grouped agg + a metadata-sized verify; results land
        # in the dq_audit table as run lineage. Monitoring, not
        # gating: a red constraint is reported, never a rollback
        # (the decisions write is already committed, and at 10^12
        # docs the right reaction to a drifted metric is triage, not
        # an automatic table rewrite). Runs BEFORE the DONE mark so a
        # crash can only cause a bucket to be re-stated under a new
        # run_id (deduped at corpus-read time), never to vanish from
        # the corpus state (code-review r4c finding #3).
        t0 = _time.time()
        from . import dq

        suite = dq.default_suite()
        def _summarize(rows):
            return {
                r["constraint"]: {
                    "metric": r["metric"],
                    "passed": r["passed"],
                }
                for r in rows
            }

        def _guard_audit_schema() -> None:
            # the scope column joined the dq_audit schema this round:
            # appending into a pre-scope directory would mix schemas
            # and make reads nondeterministically drop the column —
            # refuse loudly, like manifest.guard_schema for decisions
            # (code-review r4c finding #5)
            if not catalog.exists("dq_audit"):
                return
            import glob as _glob
            import os as _os

            import pyarrow.parquet as _pq

            files = _glob.glob(
                _os.path.join(catalog.path("dq_audit"), "*.parquet")
            )
            if files and "scope" not in _pq.ParquetFile(files[0]).schema_arrow.names:
                raise ValueError(
                    "existing dq_audit table predates the scope "
                    "column; move it aside before running with "
                    "--dq-check (mixed-schema parquet dirs read "
                    "nondeterministically)"
                )

        def _record(rows_by_scope: dict[str, list]) -> None:
            _guard_audit_schema()
            dq_schema = pa.schema(
                [
                    ("constraint", pa.string()),
                    ("metric", pa.float64()),
                    ("threshold", pa.float64()),
                    ("passed", pa.bool_()),
                    ("scope", pa.string()),
                    ("run_id", pa.string()),
                    ("processed_at", pa.timestamp("us", tz="UTC")),
                ]
            )
            catalog.append_rows(
                [
                    {
                        **r.asDict(),
                        "scope": scope,
                        "run_id": run_id,
                        "processed_at": now,
                    }
                    for scope, rows in rows_by_scope.items()
                    for r in rows
                ],
                dq_schema,
                "dq_audit",
            )

        def _corpus_state():
            # crash-retry dedupe: a bucket re-stated under a later
            # run_id (crash between state append and DONE mark)
            # contributes only its newest rows
            scal, regs = dq.dedupe_state_runs(
                catalog.read("dq_state_scalars"),
                catalog.read("dq_state_regs"),
            )
            drop = ["run_id", "processed_at"]
            return scal.drop(*drop), regs.drop(*drop)

        if not audit_rows:
            # zero-row run (all pending buckets empty): every
            # fraction is 0/0 — record an explicit empty result
            # instead of NULL-metric audit rows (code-review r4
            # finding #7; audit_rows is the collected per-bucket agg
            # over dec, so its emptiness is a free driver-side
            # check). Corpus-level state from EARLIER runs is still
            # verifiable.
            summary["dq"] = {}
            if catalog.exists("dq_state_scalars"):
                corpus_rows = dq.verify(_corpus_state(), suite).collect()
                _record({"corpus": corpus_rows})
                summary["dq_corpus"] = _summarize(corpus_rows)
        else:
            # persist THIS run's per-bucket mergeable state as
            # append-only lineage (runs hold disjoint buckets — the
            # manifest's resume contract — so the union of all runs'
            # states IS the corpus state, and the corpus-level verify
            # below costs O(n_buckets x 256) metadata rows, never a
            # rescan of the decisions table; proven equal to a full
            # recompute in tests/test_dq.py)
            scal, regs = dq.bucket_state(dec, suite, "bucket_id")
            for df, name in (
                (scal, "dq_state_scalars"),
                (regs, "dq_state_regs"),
            ):
                catalog.append(
                    df.withColumn("run_id", F.lit(run_id)).withColumn(
                        "processed_at", F.lit(now)
                    ),
                    name,
                )
            # read the persisted state back (one computation of the
            # aggs — the write above — then metadata-sized reads)
            acc_scal = catalog.read("dq_state_scalars")
            dq_rows = dq.verify(
                (
                    acc_scal.filter(F.col("run_id") == run_id)
                    .drop("run_id", "processed_at"),
                    catalog.read("dq_state_regs")
                    .filter(F.col("run_id") == run_id)
                    .drop("run_id", "processed_at"),
                ),
                suite,
            ).collect()  # bounded: one row per constraint
            corpus_rows = dq.verify(_corpus_state(), suite).collect()
            _record({"run": dq_rows, "corpus": corpus_rows})
            summary["dq"] = _summarize(dq_rows)
            summary["dq_corpus"] = _summarize(corpus_rows)
        timings["dq_check"] = round(_time.time() - t0, 2)

    # pending buckets with zero rows are still complete (marked AFTER
    # the dq state append — see the crash-window note above)
    manifest.mark(run_id, "filter", sorted(pending), DONE)

    timings["total"] = round(_time.time() - t_all, 2)
    n_docs = sum(r["n_docs"] for r in audit_rows)
    return {
        "run_id": run_id,
        "buckets": len(pending),
        "docs": n_docs,
        "timings": timings,
        **summary,
    }


#: manifest bucket id for stage-level (non-bucket) work units
GLOBAL_UNIT = -1


def run_near_dedup_increment(
    spark: SparkSession,
    out_root: str,
    n_buckets: int = 32,
    threshold: float = 0.7,
    run_id: str | None = None,
    policy: str = "greedy",
) -> dict:
    """Incremental near-dup (VERDICT r3 #3): dedup only the decision
    rows of filter runs not yet ingested, against persisted band
    state, instead of re-banding the corpus every day.

    State (all in the catalog / manifest dir):
      * ``dedup_bands``  (url, band_idx, band_hash) of every ingested
        doc — appended per increment (dedup.band_table output);
      * ``dup_pairs``    pairs APPENDED per increment (full-recompute
        mode overwrites; don't mix modes on one output);
      * ``_dedup_incr.json`` sidecar: which filter run_ids are
        ingested and which pair run_ids form the accumulated pair set
        (driver-side bounded metadata, the manifest discipline).

    Each increment:
      1. new docs = kept decisions of un-ingested filter runs (a
         pushed-down ``run_id NOT IN`` — no row-level anti-join);
      2. pairs = incremental_minhash_pairs(new, bands, corpus): the
         increment's band rows broadcast against the corpus band
         table — the 100 TB side is one narrow scan, never re-signed;
      3. survivors: only AFFECTED buckets (those holding a new or a
         newly-dropped doc — a bounded ≤ n_buckets driver collect)
         are rewritten; untouched buckets keep their files.

    Equivalence ``initial + increments == one full recompute`` (same
    survivors, same drop decisions) is tested in
    tests/test_idempotency.py. The SimHash family has the same
    incremental shape at the operator level
    (dedup.incremental_simhash_pairs over a persisted
    simhash_state_table); this stage keeps minhash because its
    Jaccard threshold is the tested keep/drop contract. Cold start (no state) is just the
    first increment against an empty band table.

    Crash safety: pairs/bands appends land before the sidecar is
    updated, so a crash re-ingests the run — duplicate state rows,
    identical survivors (pairs are consumed via DISTINCT drops, bands
    via DISTINCT candidates); the affected-bucket rewrite resumes via
    the per-bucket RUNNING/DONE marks like every other stage.
    """
    import time as _time

    t0 = _time.time()
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, out_root)
    manifest = Manifest(catalog)

    from .dedup import incremental_minhash_pairs, release_cached

    state = _incr_state(manifest)
    dec_all = catalog.read("decisions").filter(F.col("keep"))
    filter_runs = _filter_runs(manifest, n_buckets)
    new_runs = sorted(set(filter_runs) - set(state["ingested_runs"]))

    n_pairs = 0
    affected: set[int] = set()
    if new_runs:
        new_docs = dec_all.filter(F.col("run_id").isin(new_runs))
        old_bands = (
            catalog.read("dedup_bands")
            if catalog.exists("dedup_bands")
            else spark.createDataFrame(
                [], "url string, band_idx int, band_hash bigint"
            )
        )
        pairs, new_bands = incremental_minhash_pairs(
            new_docs.select("url", "scrubbed_text"),
            old_bands,
            dec_all.select("url", "scrubbed_text"),
            id_col="url",
            text_col="scrubbed_text",
            threshold=threshold,
        )
        pairs = pairs.select(
            F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b"), "jaccard"
        ).withColumn("run_id", F.lit(run_id)).withColumn(
            "bucket_id", F.pmod(F.xxhash64("url_b"), F.lit(n_buckets)).cast("int")
        )
        catalog.append(pairs, "dup_pairs")
        catalog.append(new_bands, "dedup_bands")
        prev_pair_runs = list(state["pair_runs"])
        # in-memory only — the sidecar is saved AFTER the affected
        # buckets are marked RUNNING, so a crash anywhere in between
        # re-ingests the run (duplicate pairs/bands rows, consumed
        # via DISTINCT — documented-idempotent) instead of stranding
        # an increment whose rewrite never ran and is never retried
        # (code-review r4c2 finding #2)
        state["ingested_runs"] = sorted(set(state["ingested_runs"]) | set(new_runs))
        state["pair_runs"] = sorted(set(state["pair_runs"]) | {run_id})

        all_pairs = catalog.read("dup_pairs")
        cur = all_pairs.filter(F.col("run_id").isin(state["pair_runs"]))
        drops = _drops_from_pairs(cur, policy)
        # affected buckets: where a new doc lands or a NEW drop
        # removes a row (drops are monotone across increments — pairs
        # only accumulate — so already-rewritten drop buckets need no
        # touch). Bounded <= n_buckets ids, distinct'd executor-side.
        new_drops = drops
        if prev_pair_runs:
            prev_drops = _drops_from_pairs(
                all_pairs.filter(F.col("run_id").isin(prev_pair_runs)), policy
            )
            new_drops = drops.subtract(prev_drops)
        aff = (
            new_docs.select("bucket_id")
            .unionByName(
                dec_all.join(new_drops, "url", "left_semi").select("bucket_id")
            )
            .distinct()
            .collect()
        )
        affected = {int(r["bucket_id"]) for r in aff}
        n_pairs = cur.count()
    else:
        cur = catalog.read("dup_pairs").filter(
            F.col("run_id").isin(state["pair_runs"])
        ) if state["pair_runs"] else None
        drops = _drops_from_pairs(cur, policy) if cur is not None else None
        # the summary must report the ACCUMULATED pair count on the
        # resume path too (code-review r4c2 finding #7)
        n_pairs = cur.count() if cur is not None else 0

    # crashed-rewrite resume: any bucket still marked RUNNING from a
    # previous increment gets rewritten too
    for b in range(n_buckets):
        if manifest.status("dedup", b) == RUNNING:
            affected.add(b)

    if not affected:
        if new_runs:
            # nothing to rewrite for these runs — safe to ingest now
            _save_incr_state(manifest, state)
        release_cached()
        return {
            "run_id": run_id, "buckets": 0, "docs_kept": 0,
            "dup_pairs": n_pairs, "new_runs": new_runs,
            "wall_s": round(_time.time() - t0, 2),
        }

    pend = sorted(affected)
    manifest.mark(run_id, "dedup", pend, RUNNING)
    if new_runs:
        # RUNNING marks are durable: a crash from here on resumes the
        # rewrite, so the ingestion may now be recorded
        _save_incr_state(manifest, state)
    kept = dec_all.filter(F.col("bucket_id").isin(pend))
    if drops is not None:
        kept = kept.join(drops, "url", "left_anti")
    catalog.drop_partitions("kept_pages", "bucket_id", pend)
    catalog.overwrite_partitions(kept, "kept_pages", "bucket_id")
    n_kept = catalog.read("kept_pages").count()
    manifest.mark(run_id, "dedup", pend, DONE)
    release_cached()
    return {
        "run_id": run_id,
        "buckets": len(pend),
        "docs_kept": n_kept,
        "dup_pairs": n_pairs,
        "new_runs": new_runs,
        "wall_s": round(_time.time() - t0, 2),
    }


def _drops_from_pairs(pairs: DataFrame, policy: str) -> DataFrame:
    if policy == "components":
        from .dedup import connected_components

        comp = connected_components(pairs, id_a="url_a", id_b="url_b")
        return comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("url")
        )
    return pairs.select(F.col("url_b").alias("url")).distinct()


def _filter_runs(manifest: Manifest, n_buckets: int) -> list[str]:
    """Distinct filter-stage run_ids that completed buckets — driver-
    side manifest metadata, no table scan."""
    runs = set()
    for b in range(n_buckets):
        if manifest.status("filter", b) == DONE:
            r = manifest.run_of("filter", b)
            if r:
                runs.add(r)
    return sorted(runs)


def _incr_state(manifest: Manifest) -> dict:
    import json
    import os

    p = os.path.join(manifest._dir, "_dedup_incr.json")
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {"ingested_runs": [], "pair_runs": []}


def _save_incr_state(manifest: Manifest, state: dict) -> None:
    import json
    import os

    os.makedirs(manifest._dir, exist_ok=True)
    tmp = os.path.join(manifest._dir, "_dedup_incr.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(manifest._dir, "_dedup_incr.json"))


def run_near_dedup(
    spark: SparkSession,
    out_root: str,
    n_buckets: int = 32,
    threshold: float = 0.7,
    run_id: str | None = None,
    policy: str = "greedy",
    only_buckets: list[int] | None = None,
    force: bool = False,
    incremental: bool = False,
) -> dict:
    """Second pipeline stage: near-dup removal over the kept documents
    of the decisions table (chained via TABLE STATE, the reference's
    stage architecture — each stage reads what the previous merged).

    MinHash-LSH pairs over scrubbed_text; survivor ``policy``:
    * 'greedy' (default): drop any doc with a smaller-url near-dup
      neighbor — one anti-join, no iterations; over-drops on chains.
    * 'components': exact-minimal — keep one doc per connected
      component (dedup.connected_components, O(cluster diameter)
      label-propagation rounds).
    Writes:
      * ``dup_pairs``    (url_a, url_b, jaccard) lineage
      * ``kept_pages``   surviving decision rows

    Resume granularity (VERDICT r2 #4) is split to match the work's
    true shape:
    * stage 'dedup_pairs', ONE global unit (bucket GLOBAL_UNIT):
      candidate generation is legitimately corpus-global (the banding
      self-join crosses buckets), so its unit of resume is the stage —
      a crash mid-candidates re-runs candidates, nothing else;
    * stage 'dedup', per bucket: survivor writes are prunable — a
      crash mid-write resumes ONLY the buckets not yet DONE, reusing
      the completed pairs table (``only_buckets`` simulates the crash
      in tests, exactly like run_filter).

    Drops are derived ONLY from pairs rows of the run that completed
    the candidate stage (manifest.run_of), never from stale pairs an
    earlier run/threshold left in other dynamic partitions
    (ADVICE r2). ``force=True`` re-opens both stages (the re-run-with-
    new-threshold path).

    Scale note: candidate generation is the banded equi-join
    (dedup.lsh_candidate_pairs), never all-pairs; the survivor
    anti-join is url-keyed and shuffles only the pair list.
    """
    import time as _time

    if incremental:
        # delegate: new-runs-only banding against persisted band state
        # (don't mix modes on one output — full mode OVERWRITES
        # dup_pairs partitions, incremental APPENDS)
        return run_near_dedup_increment(
            spark, out_root, n_buckets=n_buckets, threshold=threshold,
            run_id=run_id, policy=policy,
        )

    t0 = _time.time()
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, out_root)
    manifest = Manifest(catalog)

    from .dedup import minhash_dedup_pairs, release_cached

    if force:
        manifest.mark(run_id, "dedup_pairs", [GLOBAL_UNIT], PENDING)
        manifest.mark(run_id, "dedup", list(range(n_buckets)), PENDING)

    pending = manifest.pending_buckets(n_buckets, stage="dedup")
    if only_buckets is not None:
        pending = [b for b in pending if b in set(only_buckets)]

    # ---- stage 1: global candidate generation (unit = the stage) ----
    pairs_recomputed = False
    if manifest.status("dedup_pairs", GLOBAL_UNIT) != DONE:
        manifest.mark(run_id, "dedup_pairs", [GLOBAL_UNIT], RUNNING)
        dec_all = catalog.read("decisions").filter(F.col("keep"))
        # collapse_exact: byte-identical docs route through one
        # representative, so a boilerplate flood of m copies costs m-1
        # star pairs instead of an m^2/2 candidate blowup through one
        # hot band key (which AQE cannot split — the skew is in join
        # OUTPUT, not input; see dedup.minhash_dedup_pairs)
        pairs = minhash_dedup_pairs(
            dec_all, id_col="url", text_col="scrubbed_text", threshold=threshold,
            collapse_exact=True,
        ).select(
            F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b"), "jaccard"
        )
        catalog.overwrite_partitions(
            pairs.withColumn("run_id", F.lit(run_id)).withColumn(
                "bucket_id", F.pmod(F.xxhash64("url_b"), F.lit(n_buckets)).cast("int")
            ),
            "dup_pairs",
            "bucket_id",
        )
        release_cached()
        manifest.mark(run_id, "dedup_pairs", [GLOBAL_UNIT], DONE)
        pairs_run = run_id
        pairs_recomputed = True
    else:
        pairs_run = manifest.run_of("dedup_pairs", GLOBAL_UNIT)

    if not pending:
        return {
            "run_id": run_id, "buckets": 0, "docs_kept": 0, "dup_pairs": 0,
            "pairs_recomputed": pairs_recomputed,
        }
    manifest.mark(run_id, "dedup", pending, RUNNING)

    # current-run pairs only: dynamic overwrite legally leaves other
    # runs' rows in buckets this run produced no pairs for
    cur_pairs = catalog.read("dup_pairs").filter(F.col("run_id") == pairs_run)

    if policy == "components":
        from .dedup import connected_components

        comp = connected_components(cur_pairs, id_a="url_a", id_b="url_b")
        drops = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("url")
        )
    else:
        # greedy survivor rule: url_b (the larger key) of every
        # verified pair is dropped; left-anti join keeps the rest
        drops = cur_pairs.select(F.col("url_b").alias("url")).distinct()

    # ---- stage 2: per-bucket survivor writes (prunable) -------------
    dec = catalog.read("decisions").filter(F.col("keep"))
    if len(pending) < n_buckets:
        dec = dec.filter(F.col("bucket_id").isin(pending))  # pushed pruning
    kept = dec.join(drops, "url", "left_anti")
    # a pending bucket whose every row is dropped writes no partition
    # under dynamic overwrite — clear pending partitions first so
    # zero-survivor buckets cannot retain stale files
    catalog.drop_partitions("kept_pages", "bucket_id", pending)
    catalog.overwrite_partitions(kept, "kept_pages", "bucket_id")

    n_kept = catalog.read("kept_pages").count()
    n_pairs = cur_pairs.count()
    manifest.mark(run_id, "dedup", sorted(pending), DONE)
    return {
        "run_id": run_id,
        "buckets": len(pending),
        "docs_kept": n_kept,
        "dup_pairs": n_pairs,
        "pairs_recomputed": pairs_recomputed,
        "wall_s": round(_time.time() - t0, 2),
    }
