"""Structured-Streaming surface: incremental page ingest with
exactly-once keyed upsert + windowed audit metrics.

The reference's one stream is an Auto Loader CSV micro-batch feed
drained with trigger(availableNow=True) into a foreachBatch MERGE
(databricks/retriever/pubmed_wf/01_Metadata_Sync.py:38-83). Auto
Loader is Databricks-proprietary; the open equivalent is a
``readStream`` file source with a checkpoint, and the upsert becomes
a foreachBatch that applies the same monotonic latest-per-url rule.
The reference has no watermarks/windows (SURVEY.md §2.7); we add a
watermarked tumbling-window metrics stream because a web-scale
ingest needs arrival-rate observability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    """Incremental file-source scan (the Auto Loader analog:
    checkpointed discovery, per-trigger file cap)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _drain(writer, checkpoint: str):
    """Start a stream writer drain-then-stop — trigger(availableNow),
    the reference's cadence (01_Metadata_Sync.py:79) — and block until
    the backlog present at start is consumed."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def upsert_batch(out_root: str):
    """Kept for SCALING.md "Streaming" (foreachBatch monotonic upsert).

    foreachBatch upsert: batch-local latest-per-url, then append;
    readers resolve cross-batch conflicts with the same monotonic
    rule (merge-on-read — Iceberg MERGE INTO in production).

    Exactly-once: the checkpoint tracks consumed files; the append
    per epoch is atomic at the directory level.
    """

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        from .tables import ParquetCatalog, latest_per_url

        ParquetCatalog(batch_df.sparkSession, out_root).append(
            latest_per_url(batch_df).withColumn("_epoch", F.lit(epoch_id)),
            "pages_stream",
        )

    return fn


def filter_batch(
    out_root: str, cfg=None, n_buckets: int = 32,
    boilerplate: bool = False, dq_check: bool = False,
    dq_uid: str = "stream",
):
    """foreachBatch body for the streaming filter: each micro-batch
    of newly-discovered pages flows through the SAME
    pipeline.filtered_frame as the batch job (extract -> score ->
    rules -> scrub, one url-window shuffle per batch) and lands in a
    decisions_stream table partitioned by epoch.

    Replay-idempotent: foreachBatch re-executes an epoch after a
    crash between write and checkpoint commit; dynamic partition
    overwrite on _epoch makes the re-run replace exactly its own
    rows (the streaming analog of the batch job's per-bucket
    overwrite resume). Cross-batch recrawls are merge-on-read:
    readers resolve latest-per-url by warc_ts, the same monotonic
    rule as the ingest upsert — proven to reproduce the batch run's
    decisions in tests/test_streaming.py.

    ``dq_check``: online data-quality monitoring — each epoch writes
    its per-bucket mergeable constraint state (webfilter/dq.py,
    dq.default_suite()) to dq_state_* tables partitioned by run_id
    with DYNAMIC overwrite, so a replayed epoch replaces exactly its
    own state rows and the accumulated state can never double-count
    (the streaming analog of the batch job's disjoint-bucket
    contract; the epoch's own decisions write uses the identical
    discipline on _epoch).  A per-epoch dq_audit_stream row set
    (scope epoch + corpus-so-far) lands the same replay-safe way.
    The corpus verify costs O(epochs x buckets x 256) metadata rows
    — earlier epochs' decisions are never re-read.

    ``dq_uid`` names the STREAM INSTANCE (run_filter_stream persists
    one under the checkpoint): run_ids are f"{uid}-epoch-{n}" and the
    corpus scope merges only this instance's epochs, so state left by
    a wiped-checkpoint predecessor — whose epoch numbering restarts
    and no longer aligns — can never be double-counted (code-review
    r4c finding #6; run_filter_stream also clears the state tables
    when it mints a fresh uid).

    Corpus-scope constraints are the SCALAR ones only: epochs
    legitimately re-emit recrawled urls (readers dedup latest-per-url
    at read time), so a cross-epoch uniqueness ratio is a recrawl-
    rate observation, not a pass/fail constraint — thresholding it
    would go chronically red on recrawl-heavy streams (code-review
    r4c finding #4).  Within one epoch the batch window applies, so
    the epoch scope keeps the Unique constraint."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        from . import rules
        from .partitioning import with_bucket
        from .pipeline import DECISION_COLS, filtered_frame

        if batch_df.isEmpty():
            # a zero-row source file still fires foreachBatch; a
            # zero-partition dynamic overwrite would create a
            # _SUCCESS-only dir that later reads cannot infer a
            # schema from, killing the stream on every replay
            # (code-review r4c3 finding #1, reproduced)
            return
        rid = f"epoch-{epoch_id}"
        out = (
            filtered_frame(
                with_bucket(batch_df, n_buckets),
                cfg=cfg or rules.DEFAULT_RULES,
                boilerplate=boilerplate,
            )
            .withColumn("run_id", F.lit(rid))
            .withColumn("_epoch", F.lit(epoch_id))
            .select(*DECISION_COLS, "_epoch")
        )
        from .tables import ParquetCatalog

        if dq_check:
            out = out.persist()
        # through the catalog: identical dynamic-overwrite semantics
        # plus a _history commit row, so catalog.history() covers the
        # streaming tables too (code-review r4c3 finding #9)
        ParquetCatalog(out.sparkSession, out_root).overwrite_partitions(
            out, "decisions_stream", "_epoch"
        )
        if dq_check:
            try:
                _epoch_dq(
                    out.drop("_epoch"), out_root,
                    f"{dq_uid}-{rid}", epoch_id,
                )
            finally:
                out.unpersist()

    return fn


def _epoch_dq(
    dec: DataFrame, out_root: str, rid: str, epoch_id: int
) -> None:
    """Write one epoch's dq state + audit rows, replay-idempotently
    (dynamic partition overwrite on run_id everywhere).  ``rid`` is
    uid-prefixed; the corpus scope merges only same-uid rows and
    checks the scalar constraints (see filter_batch's docstring for
    both whys)."""
    from . import dq
    from .tables import ParquetCatalog

    spark = dec.sparkSession
    cat = ParquetCatalog(spark, out_root)
    suite = dq.default_suite()
    uid = rid.rsplit("-epoch-", 1)[0]

    def _dyn(df: DataFrame, name: str) -> None:
        # catalog-routed so history() sees the state commits
        cat.overwrite_partitions(df, name, "run_id")

    scal, regs = dq.bucket_state(dec, suite, "bucket_id")
    _dyn(scal.withColumn("run_id", F.lit(rid)), "dq_state_scalars")
    _dyn(regs.withColumn("run_id", F.lit(rid)), "dq_state_regs")
    acc_scal = cat.read("dq_state_scalars")
    acc_regs = cat.read("dq_state_regs")
    # the corpus scope reports only the SCALAR constraints (see the
    # filter_batch docstring), but verify() must ALWAYS run with the
    # full suite: m{i} state columns are keyed by position in the
    # suite that built the state, so verifying a filtered suite
    # against full-suite state misaligns the counters the moment
    # Unique is not the last entry (code-review r4c3 finding #7) —
    # filter the OUTPUT rows instead
    uniq_labels = {
        c.label for c in suite if isinstance(c, dq.Unique)
    }
    rows = []
    for scope, pred in (
        ("epoch", F.col("run_id") == rid),
        ("corpus", F.col("run_id").startswith(uid + "-")),
    ):
        rows.extend(
            r.asDict() | {"scope": scope}
            for r in dq.verify(
                (
                    acc_scal.filter(pred).drop("run_id"),
                    acc_regs.filter(pred).drop("run_id"),
                ),
                suite,
            ).collect()
            if not (scope == "corpus" and r["constraint"] in uniq_labels)
        )
    audit = spark.createDataFrame(
        [r | {"run_id": rid, "epoch": epoch_id} for r in rows],
        "constraint string, metric double, threshold double, "
        "passed boolean, scope string, epoch int, run_id string",
    )
    _dyn(audit, "dq_audit_stream")


def run_filter_stream(
    spark: SparkSession,
    src_path: str,
    out_root: str,
    checkpoint: str,
    cfg=None,
    n_buckets: int = 32,
    max_files: int = 16,
    boilerplate: bool = False,
    dq_check: bool = False,
):
    """Incremental quality filter: drain newly-arrived page files
    through the full decision pipeline (trigger(availableNow) — the
    reference's drain-then-stop cadence, 01_Metadata_Sync.py:79,
    promoted from metadata ingest to the whole filter stage).

    Scale shape: per-trigger work is bounded by maxFilesPerTrigger,
    each micro-batch keeps the batch pipeline's single-shuffle plan,
    and NO streaming state accumulates (dedup across batches is
    merge-on-read) — a daily 10^9-page crawl drop costs exactly one
    batch-job's plan per trigger, forever.

    ``boilerplate`` is the one pipeline flag that streams: the
    jusText-lite clean is a per-row array scan with no corpus-global
    state, so each micro-batch cleans exactly as the batch job would
    (proven equal in tests/test_streaming.py); dedup/host-prior stay
    batch-only because their state spans the whole corpus."""
    dq_uid = _dq_stream_uid(checkpoint, out_root) if dq_check else "stream"
    return _drain(
        read_pages_stream(spark, src_path, max_files=max_files)
        .writeStream.foreachBatch(
            filter_batch(
                out_root, cfg, n_buckets,
                boilerplate=boilerplate, dq_check=dq_check,
                dq_uid=dq_uid,
            )
        ),
        checkpoint,
    )


def _dq_stream_uid(checkpoint: str, out_root: str) -> str:
    """Stream-instance identity for dq state, persisted WITH the
    checkpoint (same lifecycle: a wiped checkpoint restarts epoch
    numbering, so its dq state is stale garbage).  Minting a FRESH
    uid therefore also clears the out_root's dq tables — the
    predecessor's epochs no longer align with the new numbering and
    dynamic overwrite alone would leave their extra partitions
    double-counting in the corpus merge (code-review r4c finding
    #6)."""
    import os
    import shutil
    import uuid as _uuid

    marker = os.path.join(checkpoint, "_dq_uid")
    if os.path.exists(marker):
        with open(marker) as fh:
            return fh.read().strip()
    uid = _uuid.uuid4().hex[:12]
    for t in ("dq_state_scalars", "dq_state_regs", "dq_audit_stream"):
        shutil.rmtree(f"{out_root}/{t}.parquet", ignore_errors=True)
    os.makedirs(checkpoint, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write(uid)
    return uid


def run_ingest_stream(
    spark: SparkSession, src_path: str, out_root: str, checkpoint: str
):
    """Drain-then-stop incremental ingest through upsert_batch
    (SCALING.md "Streaming": foreachBatch monotonic upsert)."""
    return _drain(
        read_pages_stream(spark, src_path).writeStream.foreachBatch(
            upsert_batch(out_root)
        ),
        checkpoint,
    )


DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)
# per-url state: (us, md5) of the newest emission — BOTH components
# of latest_per_url's ordering (warc_ts desc, md5(html) desc), so the
# streaming operator cannot disagree with the batch rule on exact-ts
# ties (code-review r4c3 finding #8: a strict us-only comparison kept
# whichever tied capture arrived FIRST, while the batch window picks
# the md5-desc row)
DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("best_us", T.LongType()),
        T.StructField("best_md5", T.StringType()),
    ]
)


def _html_md5(h) -> str:
    """Pandas-side mirror of F.md5(html) for the dedup tiebreak: a
    NULL html sorts below every real digest in Spark's desc ordering
    (nulls last), which '' reproduces lexicographically."""
    import hashlib

    return "" if h is None else hashlib.md5(bytes(h)).hexdigest()


def stateful_url_dedup(pages_stream: DataFrame) -> DataFrame:
    """Kept for SCALING.md "Streaming" (cross-batch stateful URL dedup).

    Cross-batch latest-wins URL dedup as a CUSTOM STATEFUL
    streaming operator (applyInPandasWithState) — the streaming form
    of tables.latest_per_url, beyond the reference's streaming
    surface (it has no stateful operators, SURVEY §2.7).

    State per url = (warc_ts, md5(html)) of the newest emission. A
    micro-batch emits at most one row per url (its newest under the
    full latest_per_url ordering), and only when that row strictly
    beats the state — replayed or stale rows are no-ops, which is
    exactly the reference's conditional-MERGE contract
    (01_Metadata_Sync.py:63) held across micro-batches. Downstream,
    the emission feed IS the upsert stream: appending it and
    resolving merge-on-read stays correct because emissions per url
    are strictly (ts, md5)-increasing — the identical ordering the
    batch window uses, ties included.
    """

    def fn(key, pdf_iter, state):
        import pandas as pd

        best = tuple(state.get) if state.exists else None
        out = None
        for pdf in pdf_iter:
            pdf = pdf.assign(_md5=pdf["html"].map(_html_md5))
            pdf = pdf.sort_values(["warc_ts", "_md5"])
            row = pdf.iloc[-1]
            us = int(row["warc_ts"].value // 1_000)  # ns -> us
            cand = (us, row["_md5"])
            if best is None or cand > best:
                best = cand
                out = pd.DataFrame(
                    {
                        "url": [row["url"]],
                        "warc_ts": [row["warc_ts"]],
                        "lang": [row["lang"]],
                        "n_bytes": [len(row["html"]) if row["html"] is not None else 0],
                    }
                )
        if out is not None:
            state.update(best)
            yield out

    from pyspark.sql.streaming.state import GroupStateTimeout

    return pages_stream.groupBy("url").applyInPandasWithState(
        fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_dedup_stream(
    spark: SparkSession, src_path: str, out_table: str, checkpoint: str, max_files: int = 1
):
    """Drain the file stream through the stateful dedup into an
    in-memory sink (tests); production sink = Iceberg append."""
    return _drain(
        stateful_url_dedup(read_pages_stream(spark, src_path, max_files))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table),
        checkpoint,
    )


def windowed_ingest_metrics(pages_stream: DataFrame) -> DataFrame:
    """Kept for SCALING.md "Streaming" (watermarked tumbling-window
    metrics).

    Watermarked tumbling-window arrival metrics (late rows beyond
    10 minutes dropped deterministically)."""
    return (
        pages_stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "5 minutes").alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(F.col("w.start").alias("w_start"), "lang", "n_pages", "bytes_in")
    )


def run_metrics_stream(
    spark: SparkSession, src_path: str, out_table: str, checkpoint: str
):
    """Windowed metrics to an in-memory sink (tests) — swap format
    for an Iceberg/Kafka sink in production."""
    return _drain(
        windowed_ingest_metrics(read_pages_stream(spark, src_path))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table),
        checkpoint,
    )


def streaming_sessionized_counts(events_stream: DataFrame) -> DataFrame:
    """Kept for SCALING.md "Streaming" (watermarked sessionization).

    Watermarked STREAMING session windows (`F.session_window` in a
    streaming groupBy — beyond the reference, which has no streaming
    aggregation at all): per-``lang`` sessions over ``warc_ts`` with a
    30-minute gap, whose state is GC'd once the 1-hour watermark passes
    a session's close. The batch twin
    is `entry_queries.q_sessionize`; `tests/test_streaming.py`
    asserts the drained stream equals the batch `session_window`
    aggregation on the same input — the streaming/batch unification
    Spark's incrementalization contract promises.

    At crawl scale, per-key session state is bounded by gap x event
    rate per key; the watermark is what keeps a 10^12-event stream's
    state finite."""
    return (
        events_stream.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("warc_ts", "1 hour")
        .groupBy(F.session_window(F.col("warc_ts"), "30 minutes").alias("sw"), F.col("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("lang"),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_sessionized_stream(
    spark: SparkSession, src_path: str, out_table: str, checkpoint: str
):
    """Drain the file stream through streaming sessionization into an
    in-memory sink (tests); production sink = Iceberg append. Append
    mode emits a session only once the watermark closes it."""
    return _drain(
        streaming_sessionized_counts(read_pages_stream(spark, src_path, 1))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table),
        checkpoint,
    )
