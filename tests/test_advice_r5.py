"""Regression tests for ADVICE r4 findings plus the unblocked-Jaccard
guard (VERDICT r4 next-round #8).  Each test reproduces the flagged
failure mode and pins the fix:

1. snaptable equality-delete seq resolution must fail LOUDLY (not
   open) when the path→seq dim misses a scanned file;
2. trainprep.frequent_terms' candidate persist is released by the
   shared caching registry;
3. dq.verify emits passed=False (never NULL) for a Unique constraint
   with empty register state;
4. vacuum never reclaims an orphan whose staging dir is still hot,
   and jobs/maintain_table.py refuses a sub-floor --grace;
5. ngram_jaccard_pairs without block_col warns and points at the
   subquadratic operators.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row, functions as F

from webfilter import caching
from webfilter.snaptable import SnapshotTable


# ------------------------------------------------- 1. eq-delete seq miss


def test_eq_delete_seq_miss_raises_instead_of_failing_open(
    spark, tmp_path
):
    """ADVICE r4 #1: an unmatched _metadata.file_path used to get seq
    max+1 so NO delete applied — silently resurrecting taken-down
    rows.  A dim miss is a normalization bug and must abort the
    read."""
    t = SnapshotTable(spark, str(tmp_path), "pages_meta")
    t.append(
        spark.createDataFrame(
            [Row(url="a", lang="en", n=1), Row(url="b", lang="en", n=2)]
        ),
        part_col="lang",
    )
    t.delete_rows(spark.createDataFrame([Row(url="a")]), ["url"])
    entries, dels, snap = t._resolve_full(t.current_snapshot())
    assert dels, "fixture must produce equality-delete entries"
    # sanity: the real path→seq dim covers the scan — deletes apply
    ok = {r["url"] for r in t.read().collect()}
    assert ok == {"b"}
    # forge a dim that misses every scanned file
    import json as _json
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(_json.loads(snap["schema"]))
    df = spark.read.schema(schema).parquet(
        *[os.path.join(t.dir, e["path"]) for e in entries]
    )
    bogus = [dict(e, path="definitely/not/" + e["path"]) for e in entries]
    with pytest.raises(Exception, match="equality-delete"):
        t._apply_eq_deletes(df, bogus, dels).collect()


# ------------------------------------ 2. cache-lifecycle registry routing


def test_frequent_terms_candidate_persist_is_registry_released(spark):
    """ADVICE r4 #3: the max_broadcast_candidates persist now routes
    through the shared registry so one release covers it."""
    from webfilter.trainprep import frequent_terms

    caching.release_cached()
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma alpha") for i in range(20)]
    )
    before = caching.cached_count()
    out = frequent_terms(docs, min_per_mille=100, max_broadcast_candidates=1)
    assert out.count() >= 1  # alpha at least
    assert caching.cached_count() == before + 1
    caching.release_cached()
    assert caching.cached_count() == 0


def test_dedup_release_cached_is_the_shared_registry():
    """dedup.release_cached must BE caching.release_cached (the one
    release point pipeline/bench/jobs already call)."""
    from webfilter import dedup

    assert dedup.release_cached is caching.release_cached


# ------------------------------------ 3. dq Unique with empty reg state


def test_unique_with_empty_register_state_reads_failed(spark):
    """ADVICE r4 #4: NULL passed read as not-failed by JSON consumers
    testing `passed is False`; empty register state must surface as
    an explicit failure."""
    from webfilter.dq import Unique, bucket_state, verify

    suite = [Unique("url", 0.90)]
    empty = spark.createDataFrame([], "url string, bucket_id int")
    got = {
        r["constraint"]: r for r in verify(bucket_state(empty, suite), suite).collect()
    }
    row = got["unique_url"]
    assert row["passed"] is False  # not None, not True
    assert row["metric"] is None  # the metric stays honest: unknown


# ----------------------------------------- 4. vacuum hot-staging-dir


def test_vacuum_spares_orphans_in_hot_staging_dir(spark, tmp_path):
    """ADVICE r4 #5: a multi-file write outliving the grace window
    has early files older than grace while the writer is still
    appending; deletability now also requires the containing dir to
    have been quiet for the grace period."""
    t = SnapshotTable(spark, str(tmp_path), "pages_meta")
    t.append(
        spark.createDataFrame([Row(url="a", lang="en", n=1)]),
        part_col="lang",
    )
    staging = os.path.join(t.data_dir, "staging-inflight")
    os.makedirs(staging)
    old_orphan = os.path.join(staging, "part-000.parquet")
    fresh = os.path.join(staging, "part-001.parquet")
    with open(old_orphan, "wb") as fh:
        fh.write(b"x")
    with open(fresh, "wb") as fh:
        fh.write(b"y")
    past = time.time() - 3600
    os.utime(old_orphan, (past, past))  # individually past grace
    # dir + sibling are fresh: the writer is still active
    t.vacuum(keep_last=1, orphan_grace_seconds=60.0)
    assert os.path.exists(old_orphan), "hot-dir orphan must survive"
    # quiesce everything past the grace window -> now reclaimable
    os.utime(fresh, (past, past))
    os.utime(staging, (past, past))
    t.vacuum(keep_last=1, orphan_grace_seconds=60.0)
    assert not os.path.exists(old_orphan)
    assert not os.path.exists(fresh)


def test_maintain_table_refuses_sub_floor_grace(tmp_path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "maintain_table_floor",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "jobs", "maintain_table.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with pytest.raises(SystemExit):
        mod.main(
            [
                "--root", str(tmp_path), "--name", "t",
                "--vacuum", "--grace", "1",
            ]
        )


# --------------------------------------- 5. unblocked Jaccard warning


def test_unblocked_jaccard_warns_and_points_at_subquadratic(spark):
    from webfilter.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"tiny doc {i}") for i in range(4)]
    )
    with pytest.warns(UserWarning, match="minhash_dedup_pairs"):
        ngram_jaccard_pairs(docs, k=2, threshold=0.5)


def test_blocked_jaccard_does_not_warn(spark):
    import warnings

    from webfilter.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s", text=f"tiny doc {i}") for i in range(4)]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ngram_jaccard_pairs(docs, k=2, threshold=0.5, block_col="source")
