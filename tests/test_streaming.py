"""Structured-Streaming surface: incremental ingest with checkpoint
replay protection + watermarked windowed metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webfilter import streaming


@pytest.fixture(scope="module")
def stream_src(spark, synth_dir, tmp_path_factory):
    """pages parquet split into several files = several micro-batches."""
    d = tmp_path_factory.mktemp("stream_src")
    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    pages.repartition(6).write.mode("overwrite").parquet(str(d / "pages"))
    return str(d / "pages")


def test_ingest_stream_drains_and_upserts(spark, stream_src, tmp_path):
    out = tmp_path / "out"
    cp = tmp_path / "cp"
    streaming.run_ingest_stream(spark, stream_src, str(out), str(cp))
    got = spark.read.parquet(f"{out}/pages_stream.parquet")
    src = spark.read.parquet(stream_src)
    # every url arrived; within-batch dups collapsed by the monotonic rule
    assert got.select("url").distinct().count() == src.select("url").distinct().count()

    # re-run with same checkpoint: no new files -> no new rows (replay protection)
    n_before = got.count()
    streaming.run_ingest_stream(spark, stream_src, str(out), str(cp))
    assert spark.read.parquet(f"{out}/pages_stream.parquet").count() == n_before


def test_windowed_metrics(spark, stream_src, tmp_path):
    streaming.run_metrics_stream(spark, stream_src, "ingest_metrics", str(tmp_path / "cp2"))
    m = spark.sql("SELECT * FROM ingest_metrics")
    assert m.count() > 0
    src_n = spark.read.parquet(stream_src).count()
    # watermark append-mode may hold back the tail window; totals are
    # bounded by the source count and must cover most of it
    tot = m.agg(F.sum("n_pages")).collect()[0][0]
    assert 0 < tot <= src_n
    assert m.filter(F.col("bytes_in") <= 0).count() == 0


def test_stateful_url_dedup_across_batches(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): latest-wins
    URL dedup holds ACROSS micro-batches — a replayed/stale row in a
    later batch emits nothing; a strictly newer crawl emits once."""
    src = tmp_path / "src"
    rows1 = [
        ("http://a/1", "2024-01-01 00:00:00", b"v1", None, "en"),
        ("http://a/2", "2024-01-01 00:00:00", b"v1", None, "en"),
    ]
    rows2 = [
        ("http://a/1", "2024-01-01 00:00:00", b"v1", None, "en"),  # replay
        ("http://a/2", "2023-12-01 00:00:00", b"v0", None, "en"),  # stale
        ("http://a/3", "2024-01-05 00:00:00", b"v1", None, "en"),  # new url
        ("http://a/1", "2024-02-01 00:00:00", b"v2xx", None, "en"),  # newer
    ]

    def _write(rows, name):
        (
            spark.createDataFrame(
                rows, "url string, warc_ts string, html binary, text string, lang string"
            )
            .withColumn("warc_ts", F.to_timestamp("warc_ts"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(src / name))
        )

    _write(rows1, "b1")
    # flatten: file source wants one dir of files
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    n = 0
    for name, rows in [("b1", rows1), ("b2", rows2)]:
        _write(rows, name)
        for f in (src / name).glob("*.parquet"):
            shutil.copy(f, flat / f"{name}.parquet")
            n += 1
    assert n == 2

    streaming.run_stateful_dedup_stream(
        spark, str(flat), "dedup_feed", str(tmp_path / "cp"), max_files=1
    )
    feed = spark.sql("SELECT * FROM dedup_feed").collect()
    per_url = {}
    for r in feed:
        per_url.setdefault(r["url"], []).append(r)
    # url1: first sight + newer crawl = 2 emissions, ts strictly increasing
    assert len(per_url["http://a/1"]) == 2
    ts = sorted(r["warc_ts"] for r in per_url["http://a/1"])
    assert ts[0] < ts[1] and per_url["http://a/1"][0]["n_bytes"] >= 2
    # url2: stale second batch emitted nothing
    assert len(per_url["http://a/2"]) == 1
    # url3: exactly one emission
    assert len(per_url["http://a/3"]) == 1


def test_streaming_sessionization_matches_batch(spark, synth_dir, tmp_path):
    """Streaming session_window (watermarked, append mode) must be an
    incrementalization of the BATCH session_window aggregation: with
    an in-order arrival (time-ranged files, written oldest-first so
    the file source replays them chronologically) no event is late,
    every emitted session equals a batch session exactly — including
    sessions MERGED across micro-batches — and only still-open tail
    sessions per key are withheld by the final watermark."""
    src = tmp_path / "sess_src"
    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    qs = list(
        pages.selectExpr(
            "percentile(cast(warc_ts as double), array(0.25, 0.5, 0.75))"
        ).collect()[0][0]
    )
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(4):  # sequential writes -> increasing mtimes
        (pages.filter(
            (F.col("warc_ts").cast("double") > bounds[i])
            & (F.col("warc_ts").cast("double") <= bounds[i + 1])
        ).coalesce(1).write.mode("append").parquet(str(src)))
    streaming.run_sessionized_stream(
        spark, str(src), "sessionized_stream", str(tmp_path / "cp_sess")
    )
    got = spark.sql("SELECT * FROM sessionized_stream")

    batch = (
        spark.read.parquet(str(src))
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .groupBy(F.session_window(F.col("warc_ts"), "30 minutes").alias("sw"), "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "lang",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert got_rows, "stream emitted nothing"
    assert got_rows <= batch_rows  # exact agreement on emitted sessions
    # in-order arrival -> nothing dropped as late; the final watermark
    # (1h behind max ts) withholds at most the sessions still closable
    # in that hour: ends are >= gap (30 min) apart, so <= 2 per key
    n_keys = batch.select("lang").distinct().count()
    assert len(batch_rows) - len(got_rows) <= 2 * n_keys


def test_filter_stream_matches_batch(spark, stream_src, tmp_path):
    """The FULL decision pipeline as a stream: draining the corpus
    in micro-batches (maxFilesPerTrigger=2) and resolving the
    decisions_stream table latest-per-url reproduces the batch run's
    decisions exactly — keep, reasons, extracted and scrubbed text.
    Then a second drain on the same checkpoint is a no-op (replay
    protection holds for the whole filter, not just ingest)."""
    from pyspark.sql import Window

    from webfilter import pipeline
    from webfilter.partitioning import with_bucket

    out = tmp_path / "sf_out"
    cp = tmp_path / "sf_cp"
    streaming.run_filter_stream(spark, stream_src, str(out), str(cp), max_files=2)

    dec = spark.read.parquet(f"{out}/decisions_stream.parquet")
    assert dec.select("_epoch").distinct().count() >= 2, "want several micro-batches"

    cols = ["url", "keep", "drop_reasons", "text", "scrubbed_text"]

    def snap(df):
        return {
            r["url"]: (r["keep"], list(r["drop_reasons"]), r["text"], r["scrubbed_text"])
            for r in df.select(*cols).collect()
        }

    # merge-on-read: newest capture per url wins; decision rows carry
    # no html, so epoch (arrival order) breaks exact-ts ties — rows
    # tied on (url, warc_ts) are replays with identical decisions
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("_epoch").desc()
    )
    streamed = snap(
        dec.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    )
    batch = snap(
        pipeline.filtered_frame(with_bucket(spark.read.parquet(stream_src), 32))
    )
    assert streamed == batch

    n = dec.count()
    streaming.run_filter_stream(spark, stream_src, str(out), str(cp), max_files=2)
    assert spark.read.parquet(f"{out}/decisions_stream.parquet").count() == n


def test_filter_stream_boilerplate_matches_batch(spark, stream_src, tmp_path):
    """--boilerplate is streamable because the jusText-lite clean is
    map-only per-row state (unlike dedup/host-prior, whose state is
    corpus-global): streaming with boilerplate=True must reproduce
    the batch boilerplate run's decisions exactly, and at least one
    url must differ from the plain batch run (the stage did work)."""
    from pyspark.sql import Window

    from webfilter import pipeline
    from webfilter.partitioning import with_bucket

    out = tmp_path / "bp_out"
    cp = tmp_path / "bp_cp"
    streaming.run_filter_stream(
        spark, stream_src, str(out), str(cp), max_files=4, boilerplate=True
    )
    dec = spark.read.parquet(f"{out}/decisions_stream.parquet")
    cols = ["url", "keep", "drop_reasons", "text", "scrubbed_text"]

    def snap(df):
        return {
            r["url"]: (r["keep"], list(r["drop_reasons"]), r["text"], r["scrubbed_text"])
            for r in df.select(*cols).collect()
        }

    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("_epoch").desc()
    )
    streamed = snap(
        dec.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    )
    pages = with_bucket(spark.read.parquet(stream_src), 32)
    assert streamed == snap(pipeline.filtered_frame(pages, boilerplate=True))
    assert streamed != snap(pipeline.filtered_frame(pages))


def test_filter_stream_dq_monitoring(spark, stream_src, tmp_path):
    """Online dq monitoring (dq_check=True): every epoch writes its
    per-bucket mergeable state + epoch/corpus audit rows; the final
    corpus-scope verify over accumulated state equals the batch dq
    over ALL emitted decision rows (never re-reading earlier
    epochs); and a checkpoint-wipe replay leaves the state tables
    content-identical (dynamic overwrite on run_id — no double
    counting)."""
    from webfilter import dq

    out = tmp_path / "dq_out"
    cp = tmp_path / "dq_cp"
    streaming.run_filter_stream(
        spark, stream_src, str(out), str(cp), max_files=2, dq_check=True
    )
    dec = spark.read.parquet(f"{out}/decisions_stream.parquet")
    epochs = [
        r["_epoch"] for r in dec.select("_epoch").distinct().collect()
    ]
    assert len(epochs) >= 2
    scal = spark.read.parquet(f"{out}/dq_state_scalars.parquet")
    rids = {r["run_id"] for r in scal.select("run_id").distinct().collect()}
    # uid-prefixed epoch run_ids, one per epoch, single stream uid
    assert {r.rsplit("-epoch-", 1)[1] for r in rids} == {
        str(e) for e in epochs
    }
    assert len({r.rsplit("-epoch-", 1)[0] for r in rids}) == 1
    audit = spark.read.parquet(f"{out}/dq_audit_stream.parquet")
    assert {r["scope"] for r in audit.select("scope").distinct().collect()} == {
        "epoch", "corpus",
    }
    suite = dq.default_suite()
    # corpus scope carries the scalar constraints only (cross-epoch
    # uniqueness is a recrawl-rate observation, not a constraint);
    # the per-epoch scope keeps Unique
    corpus_suite = [c for c in suite if not isinstance(c, dq.Unique)]
    assert {
        r["constraint"]
        for r in audit.filter(
            (F.col("scope") == "epoch") & (F.col("epoch") == max(epochs))
        ).collect()
    } == {c.label for c in suite}
    last = max(epochs)

    def corpus_rows(aud):
        return sorted(
            (r["constraint"], r["metric"], r["passed"])
            for r in aud.filter(
                (F.col("scope") == "corpus") & (F.col("epoch") == last)
            ).collect()
        )

    # corpus scope == batch verify over all emitted rows
    direct = sorted(
        (r["constraint"], r["metric"], r["passed"])
        for r in dq.verify(
            dq.bucket_state(dec, suite, "bucket_id"), corpus_suite
        ).collect()
    )
    assert corpus_rows(audit) == direct

    # replay: wipe the checkpoint, re-drain — same state content
    import shutil as _sh

    before = sorted(tuple(r) for r in scal.drop("run_id").collect())
    _sh.rmtree(cp)
    streaming.run_filter_stream(
        spark, stream_src, str(out), str(cp), max_files=2, dq_check=True
    )
    scal2 = spark.read.parquet(f"{out}/dq_state_scalars.parquet")
    assert sorted(tuple(r) for r in scal2.drop("run_id").collect()) == before
    assert corpus_rows(
        spark.read.parquet(f"{out}/dq_audit_stream.parquet")
    ) == direct


def test_filter_stream_survives_empty_source_file(spark, tmp_path):
    """A zero-row parquet file in the drop dir must not kill the
    stream (code-review r4c3 finding #1: the dq state write used to
    produce a schema-less dir and die on read-back, replaying the
    same empty batch forever)."""
    src = tmp_path / "src"
    src.mkdir()
    empty = spark.createDataFrame([], streaming.PAGES_SCHEMA)
    empty.coalesce(1).write.parquet(str(tmp_path / "e"))
    import shutil

    for f in (tmp_path / "e").glob("*.parquet"):
        shutil.copy(f, src / "empty.parquet")
    streaming.run_filter_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "cp"),
        dq_check=True,
    )
    # nothing written, nothing crashed; a later NON-empty drop works
    rows = [("http://a/1", "2024-01-01 00:00:00", b"<html><body><p>"
             + b"hello world " * 30 + b"</p></body></html>", None, "en")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    df.coalesce(1).write.parquet(str(tmp_path / "n"))
    for f in (tmp_path / "n").glob("*.parquet"):
        shutil.copy(f, src / "next.parquet")
    streaming.run_filter_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "cp"),
        dq_check=True,
    )
    dec = spark.read.parquet(f"{tmp_path}/out/decisions_stream.parquet")
    assert dec.count() == 1


def test_stateful_dedup_tie_matches_batch_rule(spark, tmp_path):
    """Exact-warc_ts ties break by md5(html) desc — the identical
    latest_per_url ordering — regardless of arrival order
    (code-review r4c3 finding #8: the old strict-ts comparison kept
    whichever tied capture arrived FIRST)."""
    import hashlib
    import shutil

    a, b = b"alpha body", b"beta body"
    # arrange arrival order: the md5-SMALLER one arrives first
    first, second = sorted(
        [a, b], key=lambda h: hashlib.md5(h).hexdigest()
    )
    ts = "2024-01-01 00:00:00"

    def _write(rows, name):
        (
            spark.createDataFrame(
                rows,
                "url string, warc_ts string, html binary, text string, lang string",
            )
            .withColumn("warc_ts", F.to_timestamp("warc_ts"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / name))
        )

    flat = tmp_path / "flat"
    flat.mkdir()
    for name, h in [("b1", first), ("b2", second)]:
        _write([("http://t/1", ts, h, None, "en")], name)
        for f in (tmp_path / name).glob("*.parquet"):
            shutil.copy(f, flat / f"{name}.parquet")
    streaming.run_stateful_dedup_stream(
        spark, str(flat), "tie_feed", str(tmp_path / "cp"), max_files=1
    )
    feed = spark.sql("SELECT * FROM tie_feed").collect()
    # both captures emit (second strictly beats first on md5), and
    # the LAST emission is the md5-desc winner — the batch rule
    assert len(feed) == 2
    from webfilter.tables import latest_per_url

    both = (
        spark.createDataFrame(
            [("http://t/1", ts, first, None, "en"),
             ("http://t/1", ts, second, None, "en")],
            "url string, warc_ts string, html binary, text string, lang string",
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    )
    batch_winner = latest_per_url(both).collect()[0]
    assert len(batch_winner["html"]) == len(second)
