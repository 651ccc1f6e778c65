"""Resume/idempotency gates (SURVEY.md §5 item 3, BASELINE.md §2):
kill-after-stage simulation, re-run convergence, monotonic
latest-per-url merge semantics, zero-row runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from webfilter import pipeline
from webfilter.manifest import Manifest
from webfilter.tables import ParquetCatalog, latest_per_url


def _decisions_fingerprint(spark, out_dir: str):
    """Order-insensitive content hash of the decisions table (ignores
    run_id — different runs may legally differ there)."""
    dec = ParquetCatalog(spark, out_dir).read("decisions").drop("run_id")
    row_hash = F.md5(F.to_json(F.struct(*sorted(dec.columns))))
    return (
        dec.select(row_hash.alias("h"))
        .agg(F.count("*").alias("n"), F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint")).alias("s"))
        .collect()[0]
    )


def test_partial_then_resume_equals_clean_run(spark, synth_dir, tmp_path):
    pages = f"{synth_dir}/pages.parquet"
    clean = tmp_path / "clean"
    partial = tmp_path / "partial"

    pipeline.run_filter(spark, pages, str(clean), n_buckets=8, run_id="clean")

    # simulate a crash: first invocation only completes buckets 0-2
    r1 = pipeline.run_filter(
        spark, pages, str(partial), n_buckets=8, run_id="p1", only_buckets=[0, 1, 2]
    )
    assert r1["buckets"] == 3
    m = Manifest(ParquetCatalog(spark, str(partial)))
    assert sorted(m.pending_buckets(8)) == [3, 4, 5, 6, 7]

    # resume completes only the remaining buckets
    r2 = pipeline.run_filter(spark, pages, str(partial), n_buckets=8, run_id="p2")
    assert r2["buckets"] == 5

    fp_clean = _decisions_fingerprint(spark, str(clean))
    fp_resumed = _decisions_fingerprint(spark, str(partial))
    assert fp_clean == fp_resumed


def test_resume_refuses_schema_change(spark, synth_dir, tmp_path, monkeypatch):
    """Resuming across a DECISION_COLS change would mix bucket files
    with inconsistent schemas (ADVICE r3) — the manifest records the
    column list and refuses the resume while old-schema buckets are
    DONE. A fresh output (nothing DONE) just updates the record."""
    import pytest

    pages = f"{synth_dir}/pages.parquet"
    out = tmp_path / "schema_guard"
    pipeline.run_filter(
        spark, pages, str(out), n_buckets=8, run_id="s1", only_buckets=[0, 1]
    )

    shrunk = [c for c in pipeline.DECISION_COLS if c != "quality_prob"]
    monkeypatch.setattr(pipeline, "DECISION_COLS", shrunk)
    with pytest.raises(ValueError, match="schema changed"):
        pipeline.run_filter(spark, pages, str(out), n_buckets=8, run_id="s2")

    # a brand-new output dir under the new schema is fine
    r = pipeline.run_filter(
        spark, pages, str(tmp_path / "fresh"), n_buckets=8, run_id="s3",
        only_buckets=[0],
    )
    assert r["buckets"] == 1


def test_rerun_is_noop(spark, synth_dir, tmp_path):
    pages = f"{synth_dir}/pages.parquet"
    out = tmp_path / "once"
    pipeline.run_filter(spark, pages, str(out), n_buckets=8, run_id="a")
    r = pipeline.run_filter(spark, pages, str(out), n_buckets=8, run_id="b")
    assert r["buckets"] == 0 and r["docs"] == 0


def test_latest_per_url_monotonic(spark):
    rows = [
        ("u1", "2024-01-02 00:00:00", b"new"),
        ("u1", "2024-01-01 00:00:00", b"old"),
        ("u2", "2024-01-01 00:00:00", b"only"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, html binary").withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )
    got = {r["url"]: bytes(r["html"]) for r in latest_per_url(df).collect()}
    assert got == {"u1": b"new", "u2": b"only"}


def test_latest_per_url_stale_rows_ignored(spark, synth_dir, pipeline_out):
    """Re-crawled urls (5% of docs carry an extra stale row) must
    resolve to the newest crawl — decisions has exactly one row per
    url and its text is the golden (newest) text."""
    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    dup_urls = pages.groupBy("url").count().filter("count > 1")
    assert dup_urls.count() > 0
    dec = ParquetCatalog(spark, pipeline_out).read("decisions")
    assert dec.groupBy("url").count().filter("count > 1").count() == 0


def test_zero_row_run_completes(spark, synth_dir, tmp_path):
    """A run that writes no decision rows on a fresh output root
    leaves no parquet file to infer a schema from. It must still
    return docs=0 and mark its buckets DONE: an empty pages input
    (with --dq-check, whose zero-row branch records an empty result)
    and only_buckets naming only empty buckets."""
    from webfilter.partitioning import with_bucket

    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    empty = str(tmp_path / "empty_pages")
    pages.limit(0).write.parquet(empty)
    out = str(tmp_path / "out_empty")
    r = pipeline.run_filter(
        spark, empty, out, n_buckets=4, run_id="z1", dq_check=True
    )
    assert r["buckets"] == 4 and r["docs"] == 0 and r["dq"] == {}
    assert Manifest(ParquetCatalog(spark, out)).pending_buckets(4) == []

    few = str(tmp_path / "few_pages")
    pages.limit(3).write.parquet(few)
    used = {
        row["bucket_id"]
        for row in with_bucket(spark.read.parquet(few), 64).collect()
    }
    idle = [b for b in range(64) if b not in used][:2]
    out = str(tmp_path / "out_idle")
    r = pipeline.run_filter(
        spark, few, out, n_buckets=64, run_id="z2", only_buckets=idle
    )
    assert r["buckets"] == 2 and r["docs"] == 0
    m = Manifest(ParquetCatalog(spark, out))
    assert not set(idle) & set(m.pending_buckets(64))


def test_dedup_stage_chains_and_resumes(spark, synth_dir, tmp_path):
    """Stage 2 (near-dedup) chains off the decisions table, keeps its
    own manifest stage (no shadowing of 'filter' state), removes the
    golden near-dup groups, and no-ops on re-run."""
    from webfilter import pipeline
    from webfilter.manifest import Manifest
    from webfilter.tables import ParquetCatalog

    out = str(tmp_path / "out")
    pipeline.run_filter(spark, f"{synth_dir}/pages.parquet", out, n_buckets=8, run_id="f1")
    res = pipeline.run_near_dedup(spark, out, n_buckets=8, threshold=0.6, run_id="d1")
    assert res["buckets"] == 8

    cat = ParquetCatalog(spark, out)
    dec_kept = cat.read("decisions").filter("keep").count()
    kept = cat.read("kept_pages").count()
    assert 0 < kept <= dec_kept
    if res["dup_pairs"] > 0:
        assert kept < dec_kept
    # no survivor pair is itself a near-dup pair
    pairs = cat.read("dup_pairs")
    k = cat.read("kept_pages").select("url")
    still_dup = (
        pairs.join(k.withColumnRenamed("url", "url_a"), "url_a")
        .join(k.withColumnRenamed("url", "url_b"), "url_b")
        .count()
    )
    assert still_dup == 0

    # both stages keep independent manifest state
    m = Manifest(cat)
    assert m.pending_buckets(8, stage="filter") == []
    assert m.pending_buckets(8, stage="dedup") == []

    # re-run is a no-op (manifest resume)
    res2 = pipeline.run_near_dedup(spark, out, n_buckets=8, run_id="d2")
    assert res2["buckets"] == 0


def test_dedup_kill_mid_write_resumes_per_bucket(spark, synth_dir, tmp_path):
    """VERDICT r2 #4: the survivor-write stage resumes at BUCKET
    granularity — a crash after the pairs table completed must not
    recompute pairs (the filter run is already ingested), and must
    rewrite only the unfinished buckets."""
    from webfilter.manifest import Manifest
    from webfilter.tables import ParquetCatalog

    out = str(tmp_path / "out")
    clean = str(tmp_path / "clean")
    pages = f"{synth_dir}/pages.parquet"
    pipeline.run_filter(spark, pages, out, n_buckets=8, run_id="f1")
    pipeline.run_filter(spark, pages, clean, n_buckets=8, run_id="f1")
    pipeline.run_near_dedup(spark, clean, n_buckets=8, threshold=0.6, run_id="dc")

    # crash simulation: pairs complete, survivors written for 0-2 only
    r1 = pipeline.run_near_dedup(
        spark, out, n_buckets=8, threshold=0.6, run_id="d1", only_buckets=[0, 1, 2]
    )
    assert r1["buckets"] == 3 and r1["new_runs"] == ["f1"]
    m = Manifest(ParquetCatalog(spark, out))
    assert sorted(m.pending_buckets(8, stage="dedup")) == [3, 4, 5, 6, 7]

    # resume: pairs NOT recomputed, remaining buckets written
    r2 = pipeline.run_near_dedup(spark, out, n_buckets=8, threshold=0.6, run_id="d2")
    assert r2["buckets"] == 5 and r2["new_runs"] == []
    # pairs rows still carry the run that built them
    cat = ParquetCatalog(spark, out)
    runs = {r["run_id"] for r in cat.read("dup_pairs").select("run_id").distinct().collect()}
    assert runs == {"d1"}
    # resumed result identical to the clean one-shot run
    kept_r = sorted(r["url"] for r in cat.read("kept_pages").select("url").collect())
    kept_c = sorted(
        r["url"] for r in ParquetCatalog(spark, clean).read("kept_pages").select("url").collect()
    )
    assert kept_r == kept_c


def _kept_urls(spark, out: str) -> list[str]:
    return sorted(
        r["url"]
        for r in ParquetCatalog(spark, out).read("kept_pages").select("url").collect()
    )


def test_incremental_dedup_equals_full_recompute(spark, synth_dir, tmp_path):
    """initial batch + increment through persisted band state must
    yield the SAME survivors as one full recompute (VERDICT r3 #3) —
    band hashes are deterministic per text, so the candidate relation
    is identical; batch-local exact collapse changes star-pair shape
    but not drop decisions (see incremental_minhash_pairs)."""
    pages = f"{synth_dir}/pages.parquet"

    full = tmp_path / "full"
    pipeline.run_filter(spark, pages, str(full), n_buckets=8, run_id="f")
    pipeline.run_near_dedup(spark, str(full), n_buckets=8, run_id="d")

    inc = tmp_path / "inc"
    pipeline.run_filter(
        spark, pages, str(inc), n_buckets=8, run_id="a", only_buckets=[0, 1, 2, 3]
    )
    r1 = pipeline.run_near_dedup(spark, str(inc), n_buckets=8, run_id="i1")
    assert r1["new_runs"] == ["a"] and r1["buckets"] > 0

    pipeline.run_filter(spark, pages, str(inc), n_buckets=8, run_id="b")
    r2 = pipeline.run_near_dedup(spark, str(inc), n_buckets=8, run_id="i2")
    assert r2["new_runs"] == ["b"]

    assert _kept_urls(spark, str(full)) == _kept_urls(spark, str(inc))

    # nothing new -> no-op (no rewrites, no state growth)
    r3 = pipeline.run_near_dedup(spark, str(inc), n_buckets=8, run_id="i3")
    assert r3["buckets"] == 0 and r3["new_runs"] == []


def test_dedup_force_after_increments_equals_clean_run(spark, synth_dir, tmp_path):
    """force=True resets the dedup state and ingests every filter run
    as one cold start: on a root already through two increments, a
    forced run at a new threshold keeps what a clean run keeps."""
    pages = f"{synth_dir}/pages.parquet"
    clean = str(tmp_path / "clean")
    pipeline.run_filter(spark, pages, clean, n_buckets=8, run_id="f")
    pipeline.run_near_dedup(spark, clean, n_buckets=8, threshold=0.6, run_id="dc")

    inc = str(tmp_path / "inc")
    pipeline.run_filter(spark, pages, inc, n_buckets=8, run_id="a", only_buckets=[0, 1, 2, 3])
    pipeline.run_near_dedup(spark, inc, n_buckets=8, run_id="i1")
    pipeline.run_filter(spark, pages, inc, n_buckets=8, run_id="b")
    pipeline.run_near_dedup(spark, inc, n_buckets=8, run_id="i2")
    r = pipeline.run_near_dedup(
        spark, inc, n_buckets=8, threshold=0.6, run_id="i3", force=True
    )
    assert r["new_runs"] == ["a", "b"] and r["buckets"] == 8
    assert _kept_urls(spark, inc) == _kept_urls(spark, clean)


def test_incremental_dedup_resumes_crashed_rewrite(spark, synth_dir, tmp_path):
    """A bucket left RUNNING by a crash mid-survivor-rewrite is
    rewritten by the next increment even with no new filter runs."""
    from webfilter.manifest import RUNNING

    pages = f"{synth_dir}/pages.parquet"
    out = tmp_path / "crash"
    pipeline.run_filter(spark, pages, str(out), n_buckets=8, run_id="f")
    pipeline.run_near_dedup(spark, str(out), n_buckets=8, run_id="i1")
    before = _kept_urls(spark, str(out))

    m = Manifest(ParquetCatalog(spark, str(out)))
    m.mark("crashed", "dedup", [3], RUNNING)
    r = pipeline.run_near_dedup(spark, str(out), n_buckets=8, run_id="i2")
    assert r["buckets"] == 1 and r["new_runs"] == []
    assert _kept_urls(spark, str(out)) == before


def test_dedup_force_rerun_ignores_stale_pairs(spark, synth_dir, tmp_path):
    """ADVICE r2: re-running with a stricter threshold must not drop
    documents based on the previous run's pairs left behind in
    dynamic partitions the new run didn't overwrite."""
    from webfilter.tables import ParquetCatalog

    out = str(tmp_path / "out")
    pipeline.run_filter(spark, f"{synth_dir}/pages.parquet", out, n_buckets=8, run_id="f1")
    r1 = pipeline.run_near_dedup(spark, out, n_buckets=8, threshold=0.6, run_id="d1")
    assert r1["dup_pairs"] > 0  # the loose threshold finds near-dups

    cat = ParquetCatalog(spark, out)
    n_dec_kept = cat.read("decisions").filter("keep").count()
    assert cat.read("kept_pages").count() < n_dec_kept

    # threshold 1.01 is unreachable -> zero pairs this run; the d1
    # pairs are still physically present in the dup_pairs table but
    # must be ignored when deriving drops
    r2 = pipeline.run_near_dedup(
        spark, out, n_buckets=8, threshold=1.01, run_id="d2", force=True
    )
    assert r2["new_runs"] == ["f1"] and r2["dup_pairs"] == 0
    assert cat.read("kept_pages").count() == n_dec_kept


def test_dedup_policy_components_keeps_more_than_greedy(spark, synth_dir, tmp_path):
    """Exact-minimal components policy never keeps fewer docs than
    greedy (greedy over-drops chains), and still leaves no surviving
    near-dup pair."""
    from webfilter import pipeline
    from webfilter.tables import ParquetCatalog

    out_g = str(tmp_path / "g")
    out_c = str(tmp_path / "c")
    for out, pol in [(out_g, "greedy"), (out_c, "components")]:
        pipeline.run_filter(spark, f"{synth_dir}/pages.parquet", out, n_buckets=8, run_id="f")
        pipeline.run_near_dedup(spark, out, n_buckets=8, threshold=0.6, run_id="d", policy=pol)
    kg = ParquetCatalog(spark, out_g).read("kept_pages").count()
    kc = ParquetCatalog(spark, out_c).read("kept_pages").count()
    assert kc >= kg
    cat = ParquetCatalog(spark, out_c)
    pairs = cat.read("dup_pairs")
    k = cat.read("kept_pages").select("url")
    still = (
        pairs.join(k.withColumnRenamed("url", "url_a"), "url_a")
        .join(k.withColumnRenamed("url", "url_b"), "url_b")
        .count()
    )
    assert still == 0


def test_poison_bucket_quarantine(spark, tmp_path):
    """pending_buckets(max_attempts=N) quarantines a bucket stuck in
    ERROR after N attempts instead of retrying forever (code-review
    r4c11 finding #6); default semantics unchanged."""
    from webfilter.manifest import DONE, ERROR, RUNNING, Manifest
    from webfilter.tables import ParquetCatalog

    m = Manifest(ParquetCatalog(spark, str(tmp_path)))
    m.mark("r1", "filter", [0, 1], RUNNING)
    m.mark("r1", "filter", [0], DONE)
    for r in ("r1", "r2", "r3"):
        m.mark(r, "filter", [1], RUNNING)
        m.mark(r, "filter", [1], ERROR)
    assert m.pending_buckets(2) == [1]  # default: unbounded retries
    assert m.attempts("filter", 1) >= 3
    assert m.pending_buckets(2, max_attempts=3) == []
    assert m.pending_buckets(2, max_attempts=10) == [1]
