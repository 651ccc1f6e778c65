"""Snapshot-isolated table format (webfilter/snaptable.py): the
Iceberg mechanics — atomic commits, snapshot isolation, time travel,
manifest-layer pruning, vacuum — proven executable on plain parquet.

Reference precedent: real Delta MERGE/DDL with snapshot metadata
(01_Metadata_Sync.py:59-65, pmc.py:164-175); the Iceberg runtime jar
itself is env-blocked (tests/test_iceberg.py), so these semantics are
rebuilt from scratch and executed here.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from webfilter.snaptable import SnapshotTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path), "pages_meta")


def _mk(spark, pairs):
    return spark.createDataFrame(
        [Row(url=u, lang=lang, n=i) for i, (u, lang) in enumerate(pairs)]
    )


def test_append_and_latest_read(spark, table):
    s0 = table.append(_mk(spark, [("a", "en"), ("b", "de")]), part_col="lang")
    s1 = table.append(_mk(spark, [("c", "en")]), part_col="lang")
    assert (s0, s1) == (0, 1)
    assert table.current_snapshot() == 1
    got = {r["url"] for r in table.read().collect()}
    assert got == {"a", "b", "c"}


def test_snapshot_isolation_and_time_travel(spark, table):
    """The core property ParquetCatalog cannot offer: after an
    overwrite, the PREVIOUS snapshot still reads byte-identically,
    because data files are immutable and the overwrite only wrote new
    files + tombstones."""
    table.append(_mk(spark, [("a", "en"), ("b", "de")]), part_col="lang")
    before = _rows(table.read())
    table.overwrite_partitions(
        _mk(spark, [("a2", "en"), ("a3", "en")]), part_col="lang"
    )
    # latest: en fully replaced, de untouched
    latest = {r["url"] for r in table.read().collect()}
    assert latest == {"a2", "a3", "b"}
    # time travel: snapshot 0 unchanged, value-identical
    assert _rows(table.read(snapshot=0)) == before
    # and a third commit stacks correctly
    table.append(_mk(spark, [("d", "fr")]), part_col="lang")
    assert {r["url"] for r in table.read().collect()} == {"a2", "a3", "b", "d"}
    assert {r["url"] for r in table.read(snapshot=1).collect()} == {
        "a2",
        "a3",
        "b",
    }


def test_overwrite_does_not_rewrite_untouched_files(spark, table):
    """O(touched) commits: the de partition's data file bytes and the
    prior manifest files are reused by name, never rewritten."""
    table.append(_mk(spark, [("a", "en"), ("b", "de")]), part_col="lang")
    de_before = {
        e["path"]: os.path.getmtime(os.path.join(table.dir, e["path"]))
        for e in table._resolve(0)[0]
        if e["partition"]["value"] == "de"
    }
    assert de_before
    table.overwrite_partitions(_mk(spark, [("a2", "en")]), part_col="lang")
    de_after = {
        e["path"]: os.path.getmtime(os.path.join(table.dir, e["path"]))
        for e in table._resolve(1)[0]
        if e["partition"]["value"] == "de"
    }
    assert de_after == de_before  # same files, same mtimes
    # manifest reuse: snapshot 1's list contains snapshot 0's manifest
    m0 = table._load_snapshot(0)["manifests"]
    m1 = table._load_snapshot(1)["manifests"]
    assert m1[: len(m0)] == m0 and len(m1) == len(m0) + 1


def test_reader_survives_concurrent_overwrite(spark, table):
    """A reader that resolved its DataFrame before a writer's
    overwrite commit keeps its snapshot: the old files stay on disk
    until vacuum, so the already-planned scan still works."""
    table.append(_mk(spark, [("a", "en"), ("b", "de")]), part_col="lang")
    reader_df = table.read()  # plan pinned to snapshot 0's file list
    table.overwrite_partitions(_mk(spark, [("a2", "en")]), part_col="lang")
    assert {r["url"] for r in reader_df.collect()} == {"a", "b"}


def test_crash_before_commit_is_invisible(spark, table):
    """Staged data files without a published manifest list do not
    change what readers see — the rename is the commit point."""
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    # simulate a writer that crashed after staging data + manifest
    # file but before publishing the snapshot list
    staged = table._write_data(_mk(spark, [("ghost", "en")]), "lang")
    mf = os.path.join(table.meta_dir, "m-9999999999-deadbeef.json")
    with open(mf, "w") as fh:
        json.dump({"files": staged, "deletes": None}, fh)
    assert table.current_snapshot() == 0
    assert {r["url"] for r in table.read().collect()} == {"a"}


def test_manifest_layer_partition_pruning(spark, table):
    """partition_filter prunes at the metadata layer: the planned
    scan's input files are exactly the matching partition's files."""
    table.append(
        _mk(spark, [("a", "en"), ("b", "de"), ("c", "en")]), part_col="lang"
    )
    en = table.read(partition_filter={"lang": ["en"]})
    assert {r["url"] for r in en.collect()} == {"a", "c"}
    en_files = {
        e["path"]
        for e in table._resolve(0)[0]
        if e["partition"]["value"] == "en"
    }
    scanned = {
        os.path.relpath(p.removeprefix("file:"), table.dir)
        for p in en.inputFiles()
    }
    assert scanned == en_files


def test_null_partition_value_round_trips(spark, table):
    df = spark.createDataFrame(
        [Row(url="a", lang=None, n=0), Row(url="b", lang="de", n=1)]
    )
    table.append(df, part_col="lang")
    got = _rows(table.read())
    assert got == [("a", None, 0), ("b", "de", 1)]
    only_null = table.read(partition_filter={"lang": [None]})
    assert {r["url"] for r in only_null.collect()} == {"a"}


def test_vacuum_expires_only_dead_files(spark, table):
    table.append(_mk(spark, [("a", "en"), ("b", "de")]), part_col="lang")
    table.overwrite_partitions(_mk(spark, [("a2", "en")]), part_col="lang")
    dead = [
        os.path.join(table.dir, e["path"])
        for e in table._resolve(0)[0]
        if e["partition"]["value"] == "en"
    ]
    assert all(os.path.exists(p) for p in dead)
    stats = table.vacuum(keep_last=1)
    assert stats["snapshots_expired"] == 1
    assert not any(os.path.exists(p) for p in dead)
    # live snapshot unaffected
    assert {r["url"] for r in table.read().collect()} == {"a2", "b"}
    # expired snapshot now raises a clean error
    with pytest.raises(ValueError, match="vacuumed or never"):
        table.read(snapshot=0)


def test_vacuum_noop_when_nothing_to_expire(spark, table):
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    assert table.vacuum(keep_last=2) == {
        "snapshots_expired": 0,
        "files_deleted": 0,
    }


def test_unpartitioned_append_and_history(spark, table):
    table.append(_mk(spark, [("a", "en"), ("b", "de")]))
    table.append(_mk(spark, [("c", "fr")]))
    hist = table.snapshots()
    assert [h["seq"] for h in hist] == [0, 1]
    assert [h["operation"] for h in hist] == ["append", "append"]
    assert hist[1]["parent"] == 0
    assert sum(h["added_rows"] for h in hist) == 3
    assert table.read().count() == 3


def test_empty_partition_filter_result_keeps_schema(spark, table):
    df = _mk(spark, [("a", "en")])
    table.append(df, part_col="lang")
    out = table.read(partition_filter={"lang": ["zz"]})
    assert out.count() == 0
    assert out.schema == df.schema


def test_overwrite_semantics_match_catalog_golden(spark, table, tmp_path):
    """Differential check: latest-read semantics equal an in-place
    dynamic partition overwrite (tables.ParquetCatalog) on the same
    sequence of operations — the format changes durability, not
    query results."""
    from webfilter.tables import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "flat"))
    batches = [
        ("append", _mk(spark, [("a", "en"), ("b", "de"), ("c", "fr")])),
        ("overwrite", _mk(spark, [("a2", "en"), ("d2", "de")])),
        ("append", _mk(spark, [("e", "fr")])),
    ]
    for op, df in batches:
        if op == "append":
            table.append(df, part_col="lang")
            cat.append(df, "t", part_col="lang")
        else:
            table.overwrite_partitions(df, part_col="lang")
            cat.overwrite_partitions(df, "t", part_col="lang")
    got = _rows(table.read().select("url", "lang", "n"))
    want = _rows(cat.read("t").select("url", "lang", "n"))
    assert got == want


# ---------------------------------------------------------------- MERGE


def _pages(spark, rows):
    """(url, warc_ts-int, payload) pages with bucket = url-hash % 4."""
    df = spark.createDataFrame(
        [Row(url=u, warc_ts=ts, payload=p) for u, ts, p in rows]
    )
    return df.withColumn(
        "bucket_id", (F.abs(F.xxhash64("url")) % 4).cast("int")
    )


def test_merge_upsert_matched_and_not_matched(spark, table):
    """The reference's conditional MERGE rule executed on the
    snapshot format: newer matched rows update, stale matched rows
    are ignored (monotonic guard), unmatched rows insert — one
    atomic commit."""
    base = _pages(spark, [("u1", 10, "old1"), ("u2", 10, "old2")])
    table.merge_upsert(
        base, ["url"], ["warc_ts", "payload"], part_col="bucket_id"
    )
    upd = _pages(
        spark,
        [
            ("u1", 20, "new1"),   # matched, newer -> update
            ("u2", 5, "stale2"),  # matched, older -> ignored
            ("u3", 15, "ins3"),   # not matched -> insert
        ],
    )
    table.merge_upsert(
        upd, ["url"], ["warc_ts", "payload"], part_col="bucket_id"
    )
    got = {
        r["url"]: (r["warc_ts"], r["payload"])
        for r in table.read().collect()
    }
    assert got == {"u1": (20, "new1"), "u2": (10, "old2"), "u3": (15, "ins3")}
    # time travel still shows the pre-merge table
    pre = {
        r["url"]: r["payload"] for r in table.read(snapshot=0).collect()
    }
    assert pre == {"u1": "old1", "u2": "old2"}


def test_merge_upsert_rewrites_only_touched_partitions(spark, table):
    base = _pages(
        spark, [(f"u{i}", 10, f"p{i}") for i in range(12)]
    )
    table.merge_upsert(
        base, ["url"], ["warc_ts", "payload"], part_col="bucket_id"
    )
    upd = _pages(spark, [("u0", 20, "p0v2")])
    touched = {r[0] for r in upd.select("bucket_id").collect()}
    untouched_before = {
        e["path"]: os.path.getmtime(os.path.join(table.dir, e["path"]))
        for e in table._resolve(0)[0]
        if int(e["partition"]["value"]) not in touched
    }
    assert untouched_before
    table.merge_upsert(
        upd, ["url"], ["warc_ts", "payload"], part_col="bucket_id"
    )
    untouched_after = {
        e["path"]: os.path.getmtime(os.path.join(table.dir, e["path"]))
        for e in table._resolve(1)[0]
        if int(e["partition"]["value"]) not in touched
    }
    assert untouched_after == untouched_before
    assert table.read().count() == 12  # u0 replaced, nothing lost


def test_merge_upsert_matches_catalog_merge(spark, table, tmp_path):
    """Differential: snapshot-format MERGE == tables.merge_upsert_pages
    (the in-place bucketed merge) on the same update sequence."""
    from webfilter.tables import ParquetCatalog, merge_upsert_pages

    def mk(rows):
        return spark.createDataFrame(
            [
                Row(url=u, warc_ts=ts, html=bytearray(p, "utf-8"))
                for u, ts, p in rows
            ]
        ).withColumn(
            "warc_ts", F.timestamp_seconds(F.col("warc_ts"))
        )

    cat = ParquetCatalog(spark, str(tmp_path / "flat"))
    batches = [
        [("a", 10, "x"), ("b", 10, "y"), ("c", 10, "z")],
        [("a", 20, "x2"), ("d", 5, "w")],
        [("b", 1, "stale"), ("d", 9, "w2")],
    ]
    from webfilter.partitioning import with_bucket

    for rows in batches:
        df = mk(rows)
        merge_upsert_pages(cat, df, "pages", n_buckets=4)
        table.merge_upsert(
            with_bucket(df, 4),
            ["url"],
            ["warc_ts"],
            part_col="bucket_id",
        )
    key = lambda r: r["url"]
    got = sorted(
        ((r["url"], r["warc_ts"], bytes(r["html"])) for r in table.read().collect())
    )
    want = sorted(
        (
            (r["url"], r["warc_ts"], bytes(r["html"]))
            for r in cat.read("pages").collect()
        )
    )
    assert got == want


# ------------------------------------------------------- schema evolution


def test_schema_evolution_add_column_null_backfills(spark, table):
    """Additive evolution without rewrites: pre-evolution files are
    read under the union schema with the new column null-filled;
    time travel keeps the old schema."""
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    evolved = spark.createDataFrame(
        [Row(url="b", lang="de", n=9, quality=0.5)]
    )
    table.append(evolved, part_col="lang")
    out = table.read()
    assert out.columns == ["url", "lang", "n", "quality"]
    got = {r["url"]: r["quality"] for r in out.collect()}
    assert got == {"a": None, "b": 0.5}
    # time travel: snapshot 0 still has the ORIGINAL schema
    assert table.read(snapshot=0).columns == ["url", "lang", "n"]


def test_schema_evolution_rejects_type_change(spark, table):
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    bad = spark.createDataFrame([Row(url="b", lang="de", n="nine")])
    with pytest.raises(ValueError, match="cannot change column 'n'"):
        table.append(bad, part_col="lang")
    # failed evolution left no commit behind
    assert table.current_snapshot() == 0


def test_schema_evolution_rejects_non_nullable_addition(spark, table):
    from pyspark.sql import types as T

    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("rank", T.LongType(), nullable=False),
        ]
    )
    bad = spark.createDataFrame([("b", "de", 1, 7)], schema)
    with pytest.raises(ValueError, match="must be nullable"):
        table.append(bad, part_col="lang")


# ----------------------------------------------------- streaming sink


def test_compact_manifests_metadata_only(spark, table):
    """rewrite_manifests analog: after N commits the snapshot's
    manifest list folds to length 1, zero data files move, reads are
    identical, and PRIOR snapshots still resolve their own chains."""
    table.append(_mk(spark, [("a", "en"), ("b", "de")]), part_col="lang")
    table.overwrite_partitions(_mk(spark, [("a2", "en")]), part_col="lang")
    table.append(_mk(spark, [("c", "fr")]), part_col="lang")
    before = _rows(table.read())
    files_before = {
        e["path"]: os.path.getmtime(os.path.join(table.dir, e["path"]))
        for e in table._resolve(2)[0]
    }
    assert len(table._load_snapshot(2)["manifests"]) == 3
    seq = table.compact_manifests()
    assert seq == 3
    assert len(table._load_snapshot(3)["manifests"]) == 1
    assert _rows(table.read()) == before
    files_after = {
        e["path"]: os.path.getmtime(os.path.join(table.dir, e["path"]))
        for e in table._resolve(3)[0]
    }
    assert files_after == files_before  # metadata-only
    # tombstone-shadowed entries are gone from the folded manifest
    with open(
        os.path.join(table.meta_dir, table._load_snapshot(3)["manifests"][0])
    ) as fh:
        folded = json.load(fh)
    assert folded["deletes"] is None
    urls_in_folded = len(folded["files"])
    assert urls_in_folded == len(files_after)
    # pre-compaction snapshots unaffected
    assert {r["url"] for r in table.read(snapshot=0).collect()} == {"a", "b"}
    # and vacuum after compaction drops the dead 'en' v1 files
    stats = table.vacuum(keep_last=1)
    assert stats["snapshots_expired"] == 3
    assert {r["url"] for r in table.read().collect()} == {"a2", "b", "c"}


def test_range_filter_stats_file_skipping(spark, table):
    """Iceberg-style stats-based file skipping: footer min/max
    recorded in the manifest prunes files outside the predicate
    range, and pruning never changes semantics (caller still
    filters rows)."""
    # three appends with disjoint warc_ts ranges -> 3+ files
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [Row(url=f"u{lo}_{i}", warc_ts=lo + i, lang="en") for i in range(5)]
        ).coalesce(1)
        table.append(df, part_col="lang")
    full = table.read()
    pruned = table.read(range_filter={"warc_ts": (100, 150)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = {r["url"] for r in pruned.filter(
        (F.col("warc_ts") >= 100) & (F.col("warc_ts") <= 150)).collect()}
    want = {r["url"] for r in full.filter(
        (F.col("warc_ts") >= 100) & (F.col("warc_ts") <= 150)).collect()}
    assert got == want and len(want) == 5
    # open-ended bounds
    tail = table.read(range_filter={"warc_ts": (200, None)})
    assert {r["url"] for r in tail.collect()} == {f"u200_{i}" for i in range(5)}
    # a column with no recorded stats is conservatively unpruned
    nostats = table.read(range_filter={"nosuchcol": (0, 1)})
    assert len(nostats.inputFiles()) == len(full.inputFiles())


def test_range_and_partition_filters_compose(spark, table):
    for lang, lo in (("en", 0), ("de", 100)):
        df = spark.createDataFrame(
            [Row(url=f"{lang}{i}", warc_ts=lo + i, lang=lang) for i in range(4)]
        ).coalesce(1)
        table.append(df, part_col="lang")
    out = table.read(
        partition_filter={"lang": ["de"]}, range_filter={"warc_ts": (100, 101)}
    )
    # partition pruning keeps only de's file; stats keep it (overlap)
    assert {r["url"] for r in out.filter(F.col("warc_ts") <= 101).collect()} == {
        "de0",
        "de1",
    }
    none = table.read(
        partition_filter={"lang": ["de"]}, range_filter={"warc_ts": (0, 50)}
    )
    assert none.count() == 0  # stats exclude de's only file


def test_zorder_clustered_append_composes_with_file_skipping(spark, table):
    """zorder_write's clustering discipline + manifest stats =
    metadata-layer data skipping: a 2-D range predicate over
    z-clustered files opens a small fraction of them, with results
    identical to the unpruned scan."""
    from webfilter.zorder import with_zorder

    n = 4096
    df = spark.range(n).select(
        F.col("id"),
        (F.xxhash64("id") % 1000).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("y"),
    ).withColumn("x", F.abs("x")).withColumn("y", F.abs("y"))
    clustered = (
        with_zorder(df, ["x", "y"], bits=10)
        .repartitionByRange(16, F.col("zval"))
        .sortWithinPartitions("zval")
        .drop("zval")
    )
    table.append(clustered)
    full = table.read()
    assert len(full.inputFiles()) == 16
    pred = (F.col("x") < 100) & (F.col("y") < 100)
    pruned = table.read(
        range_filter={"x": (0, 99), "y": (0, 99)}
    )
    assert len(pruned.inputFiles()) <= 8  # z-locality: most files skip
    got = {r["id"] for r in pruned.filter(pred).collect()}
    want = {r["id"] for r in full.filter(pred).collect()}
    assert got == want and want


# ------------------------------------------------- model-based walk


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_op_walk_matches_model(spark, table, seed):
    """Model-based check: a seeded random interleaving of
    append / overwrite_partitions / merge_upsert / compact_manifests
    / delete_rows / rewrite_data_files must equal a plain python dict
    model at EVERY intermediate snapshot (time travel included) —
    the merge-on-read delete layer fuzzes against every other op."""
    import random

    rng = random.Random(seed)
    langs = ["en", "de", "fr"]
    model: dict[tuple, tuple] = {}  # url -> (lang, n)
    snapshots: list[dict] = []

    def df_of(rows):
        return spark.createDataFrame(
            [Row(url=u, lang=lang, n=n) for (u, lang, n) in rows]
        )

    next_id = 0
    for _step in range(10):
        op = rng.choice(
            ["append", "overwrite", "merge", "compact", "delete", "rewrite"]
        )
        if op in ("compact", "delete", "rewrite") and not snapshots:
            op = "append"
        if op == "append":
            rows = []
            for _ in range(rng.randint(1, 4)):
                rows.append((f"u{next_id}", rng.choice(langs), next_id))
                next_id += 1
            table.append(df_of(rows), part_col="lang")
            for u, lang, n in rows:
                model[u] = (lang, n)
        elif op == "overwrite":
            lang = rng.choice(langs)
            rows = [(f"o{next_id}", lang, next_id)]
            next_id += 1
            table.overwrite_partitions(df_of(rows), part_col="lang")
            model = {
                u: v for u, v in model.items() if v[0] != lang
            }
            for u, lg, n in rows:
                model[u] = (lg, n)
        elif op == "merge":
            # upsert an existing url (if any) with a higher n plus one
            # fresh url; latest-wins on n
            rows = [(f"m{next_id}", rng.choice(langs), next_id)]
            next_id += 1
            if model:
                u = rng.choice(sorted(model))
                # merge keys must keep their partition (documented
                # contract): reuse the model's lang for u
                rows.append((u, model[u][0], next_id))
                next_id += 1
            table.merge_upsert(
                df_of(rows), ["url"], ["n"], part_col="lang"
            )
            for u, lg, n in rows:
                cur = model.get(u)
                if cur is None or n >= cur[1]:
                    model[u] = (lg, n)
        elif op == "delete":
            # a subset of live urls plus one never-existing key
            keys = rng.sample(sorted(model), k=min(len(model), 2)) if model else []
            keys.append(f"ghost{next_id}")
            next_id += 1
            table.delete_rows(
                spark.createDataFrame([Row(url=u) for u in keys]),
                ["url"],
            )
            for u in keys:
                model.pop(u, None)
        elif op == "rewrite":
            table.rewrite_data_files(part_col="lang")
        else:
            table.compact_manifests()
        snapshots.append(dict(model))
        got = {
            r["url"]: (r["lang"], r["n"]) for r in table.read().collect()
        }
        assert got == model, (seed, _step, op)
    # time travel: every recorded snapshot still replays its model
    for seq, m in enumerate(snapshots):
        got = {
            r["url"]: (r["lang"], r["n"])
            for r in table.read(snapshot=seq).collect()
        }
        assert got == m, (seed, seq)


def test_merge_crash_before_publish_leaves_premerge_snapshot(
    spark, table, monkeypatch
):
    """Inject a crash at the commit point of a MERGE (the manifest-
    list rename): data files are staged but the table must still read
    as the pre-merge snapshot."""
    import os as _os

    table.merge_upsert(
        _pages(spark, [("u1", 10, "a"), ("u2", 10, "b")]),
        ["url"],
        ["warc_ts", "payload"],
        part_col="bucket_id",
    )
    def boom(src, dst):
        raise OSError("injected crash at commit point")

    monkeypatch.setattr("webfilter.snaptable.os.link", boom)
    with pytest.raises(OSError, match="injected crash"):
        table.merge_upsert(
            _pages(spark, [("u1", 99, "evil")]),
            ["url"],
            ["warc_ts", "payload"],
            part_col="bucket_id",
        )
    monkeypatch.undo()
    assert table.current_snapshot() == 0
    got = {r["url"]: r["payload"] for r in table.read().collect()}
    assert got == {"u1": "a", "u2": "b"}


# --------------------------------------------- optimistic concurrency


def test_stale_merge_raises_commit_conflict(spark, table, tmp_path):
    """Two writers on one table: B merges from a snapshot A has since
    advanced past -> B's commit raises CommitConflict instead of
    silently dropping A's rows; B's retry (re-read) then succeeds and
    preserves BOTH writers' changes."""
    from webfilter.snaptable import CommitConflict, SnapshotTable

    table.merge_upsert(
        _pages(spark, [("u1", 10, "a")]), ["url"],
        ["warc_ts", "payload"], part_col="bucket_id",
    )
    writer_b = SnapshotTable(spark, str(tmp_path), "pages_meta")
    b_updates = _pages(spark, [("u2", 10, "b")])
    # B resolves its merge inputs at snapshot 0... simulate the race
    # by letting A commit FIRST, while B still believes parent is 0
    base_seen_by_b = writer_b.current_snapshot()
    table.merge_upsert(  # A's concurrent commit -> snapshot 1
        _pages(spark, [("u3", 10, "c")]), ["url"],
        ["warc_ts", "payload"], part_col="bucket_id",
    )
    merged = b_updates  # B's (stale) computed content
    with pytest.raises(CommitConflict, match="advanced"):
        writer_b.overwrite_partitions(
            merged, "bucket_id", expected_parent=base_seen_by_b
        )
    # the retry loop: re-read, recompute, commit
    writer_b.merge_upsert(
        b_updates, ["url"], ["warc_ts", "payload"], part_col="bucket_id"
    )
    got = {r["url"] for r in table.read().collect()}
    assert got == {"u1", "u2", "u3"}  # nothing lost


def test_same_seq_publish_race_loses_cleanly(spark, table, tmp_path):
    """Even past the expected-parent check, two commits claiming the
    same sequence number cannot overwrite each other: the hard-link
    CAS makes the loser raise instead of clobbering the winner."""
    import json as _json
    import os as _os

    from webfilter.snaptable import CommitConflict

    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    # forge a competing snapshot file for seq 1, as a racing writer
    # that won the link first would have left it
    s1 = _os.path.join(table.meta_dir, "s-0000000001.json")
    with open(s1, "w") as fh:
        _json.dump(table._load_snapshot(0) | {"seq": 1, "parent": 0}, fh)
    with pytest.raises(CommitConflict, match="another writer"):
        table._publish({"seq": 1, "manifests": [], "schema": "{}"}, 1)
    # winner's file intact
    assert table._load_snapshot(1)["parent"] == 0


def test_appends_never_conflict(spark, table, tmp_path):
    """Delta-manifest appends from two handles interleave freely:
    each stacks on the then-current snapshot, no conflicts, all rows
    present."""
    from webfilter.snaptable import SnapshotTable

    b = SnapshotTable(spark, str(tmp_path), "pages_meta")
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    b.append(_mk(spark, [("b", "de")]), part_col="lang")
    table.append(_mk(spark, [("c", "en")]), part_col="lang")
    assert {r["url"] for r in b.read().collect()} == {"a", "b", "c"}
    assert b.current_snapshot() == 2


# ------------------------------------------- code-review r4 fixes


def test_merge_after_schema_evolution(spark, table):
    """Old-shape update batches keep merging after an additive
    evolution (review finding #1): missing columns null-fill on
    either side of the merge union."""
    base = spark.createDataFrame(
        [Row(url="u1", warc_ts=10, payload="a", bucket_id=0)]
    )
    table.merge_upsert(base, ["url"], ["warc_ts"], part_col="bucket_id")
    evolved = spark.createDataFrame(
        [Row(url="u2", warc_ts=10, payload="b", bucket_id=0, quality=0.7)]
    )
    table.merge_upsert(evolved, ["url"], ["warc_ts"], part_col="bucket_id")
    # old-shape batch against the evolved table
    old_shape = spark.createDataFrame(
        [Row(url="u1", warc_ts=20, payload="a2", bucket_id=0)]
    )
    table.merge_upsert(old_shape, ["url"], ["warc_ts"], part_col="bucket_id")
    got = {
        r["url"]: (r["warc_ts"], r["payload"], r["quality"])
        for r in table.read().collect()
    }
    assert got == {"u1": (20, "a2", None), "u2": (10, "b", 0.7)}


def test_mixed_partitioning_rejected(spark, table):
    """Partition-level ops on a table holding unpartitioned files
    must refuse loudly, not silently exempt those files (review
    finding #5)."""
    table.append(_mk(spark, [("a", "en")]))  # no part_col
    with pytest.raises(ValueError, match="unpartitioned"):
        table.read(partition_filter={"lang": ["en"]})
    with pytest.raises(ValueError, match="unpartitioned"):
        table.overwrite_partitions(
            _mk(spark, [("b", "en")]), part_col="lang"
        )
    with pytest.raises(ValueError, match="unpartitioned"):
        table.merge_upsert(
            _mk(spark, [("b", "en")]), ["url"], ["n"], part_col="lang"
        )


def test_vacuum_grace_protects_inflight_staging(spark, table):
    """An orphan staged file with a fresh mtime (a possibly in-flight
    concurrent commit) survives vacuum; once past the grace window it
    is reclaimed (review finding #2)."""
    import os as _os

    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    table.append(_mk(spark, [("b", "de")]), part_col="lang")
    staged = table._write_data(_mk(spark, [("ghost", "en")]), "lang")
    ghost = _os.path.join(table.dir, staged[0]["path"])
    table.vacuum(keep_last=1)
    assert _os.path.exists(ghost)  # fresh orphan: grace-protected
    _os.utime(ghost, (1, 1))  # age it past any grace window
    stats = table.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert not _os.path.exists(ghost)
    # live snapshot unaffected throughout
    assert {r["url"] for r in table.read().collect()} == {"a", "b"}


def test_vacuum_keep_last_zero_rejected(spark, table):
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    with pytest.raises(ValueError, match="keep_last"):
        table.vacuum(keep_last=0)


def test_append_retries_past_sequence_race(spark, table):
    """An append that loses the sequence-number CAS (a forged
    competing snapshot claims seq 1) retries against the new parent
    and commits at seq 2 — appends never surface CommitConflict
    (review finding #3)."""
    import json as _json
    import os as _os

    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    # forge a competing writer's snapshot at seq 1 reusing snapshot
    # 0's manifest list (content: still just 'a')
    s0 = table._load_snapshot(0)
    with open(_os.path.join(table.meta_dir, "s-0000000001.json"), "w") as fh:
        _json.dump(s0 | {"seq": 1, "parent": 0}, fh)
    seq = table.append(_mk(spark, [("b", "de")]), part_col="lang")
    assert seq == 2
    assert {r["url"] for r in table.read().collect()} == {"a", "b"}


# --------------------------------- equality deletes (merge-on-read)


def _urls(df):
    return {r["url"] for r in df.collect()}


def test_delete_rows_merge_on_read(spark, table):
    """delete_rows removes matching rows at read time without
    rewriting any data file; time travel to the pre-delete snapshot
    still sees them (Iceberg v2 equality-delete semantics)."""
    table.append(
        _mk(spark, [("a", "en"), ("b", "de"), ("c", "en")]),
        part_col="lang",
    )
    files_before = table.file_count()
    s = table.delete_rows(
        spark.createDataFrame([Row(url="b")]), ["url"]
    )
    assert _urls(table.read()) == {"a", "c"}
    assert table.file_count() == files_before  # no data rewrite
    assert table.delete_file_count() == 1
    assert _urls(table.read(snapshot=s - 1)) == {"a", "b", "c"}
    # deleting a key that never existed is a harmless no-op
    table.delete_rows(spark.createDataFrame([Row(url="zz")]), ["url"])
    assert _urls(table.read()) == {"a", "c"}


def test_delete_then_reinsert_resurrects(spark, table):
    """Strict sequence applicability: a delete kills only rows from
    OLDER data files, so re-inserting the key afterwards is visible."""
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    table.delete_rows(spark.createDataFrame([Row(url="a")]), ["url"])
    assert _urls(table.read()) == set()
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    assert _urls(table.read()) == {"a"}
    # and the delete still applies to the ORIGINAL file's rows: both
    # snapshots coexist, each with its own view
    assert table.delete_file_count() == 1


def test_delete_composite_and_null_keys(spark, table):
    """Composite keys match column-wise with null-safe equality: a
    (url, lang)=(x, NULL) delete row kills exactly the NULL-lang x."""
    rows = [
        Row(url="x", lang="en", n=1),
        Row(url="x", lang=None, n=2),
        Row(url="y", lang="en", n=3),
    ]
    table.append(spark.createDataFrame(rows))
    table.delete_rows(
        spark.createDataFrame(
            [("x", None)], "url string, lang string"
        ),
        ["url", "lang"],
    )
    got = {(r["url"], r["lang"]) for r in table.read().collect()}
    assert got == {("x", "en"), ("y", "en")}


def test_delete_applies_under_partition_filter(spark, table):
    table.append(
        _mk(spark, [("a", "en"), ("b", "de"), ("c", "en")]),
        part_col="lang",
    )
    table.delete_rows(spark.createDataFrame([Row(url="c")]), ["url"])
    got = _urls(table.read(partition_filter={"lang": ["en"]}))
    assert got == {"a"}


def test_delete_key_validation(spark, table):
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    with pytest.raises(ValueError, match="not in table schema"):
        table.delete_rows(
            spark.createDataFrame([Row(nope="a")]), ["nope"]
        )
    with pytest.raises(ValueError, match="must match the table type"):
        table.delete_rows(spark.createDataFrame([Row(url=1)]), ["url"])
    with pytest.raises(ValueError, match="empty table"):
        SnapshotTable(
            spark, table.dir + "_fresh", "t"
        ).delete_rows(spark.createDataFrame([Row(url="a")]), ["url"])


def test_merge_after_delete_respects_deletes(spark, table):
    """merge_upsert reads through the delete-applied view: a deleted
    key stays dead unless the update batch itself re-inserts it."""
    table.merge_upsert(
        spark.createDataFrame(
            [Row(url="a", warc_ts=1, bucket_id=0),
             Row(url="b", warc_ts=1, bucket_id=0)]
        ),
        ["url"], ["warc_ts"], part_col="bucket_id",
    )
    table.delete_rows(spark.createDataFrame([Row(url="a")]), ["url"])
    table.merge_upsert(
        spark.createDataFrame([Row(url="b", warc_ts=2, bucket_id=0)]),
        ["url"], ["warc_ts"], part_col="bucket_id",
    )
    got = {(r["url"], r["warc_ts"]) for r in table.read().collect()}
    assert got == {("b", 2)}


# --------------------------------------------- rewrite_data_files


def test_rewrite_data_files_binpacks_and_materializes(spark, table):
    """Compaction: content identical before/after, small files
    folded, pending equality deletes materialized away, pre-rewrite
    snapshot intact for time travel."""
    for i in range(6):  # 6 commits x 2 partitions -> many small files
        table.append(
            _mk(spark, [(f"a{i}", "en"), (f"b{i}", "de")]),
            part_col="lang",
        )
    table.delete_rows(
        spark.createDataFrame([Row(url="a3"), Row(url="b5")]), ["url"]
    )
    pre = table.current_snapshot()
    before = _rows(table.read())
    stats = table.rewrite_data_files()
    assert _rows(table.read()) == before
    assert stats["files_after"] <= 2  # one per partition value
    assert stats["files_after"] < stats["files_before"]
    assert stats["delete_files_materialized"] == 1
    assert table.delete_file_count() == 0
    assert _rows(table.read(snapshot=pre)) == before
    # a LATER delete still works against the rewritten files
    table.delete_rows(spark.createDataFrame([Row(url="a1")]), ["url"])
    assert "a1" not in _urls(table.read())


def test_rewrite_conflicts_with_concurrent_commit(spark, table):
    from webfilter.snaptable import CommitConflict

    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    base = table.current_snapshot()
    entries, dels, snap = table._resolve_full(base)
    df = table.read(snapshot=base)
    # concurrent append lands between the rewrite's read and commit
    table.append(_mk(spark, [("z", "de")]), part_col="lang")
    added = table._write_data(df, "lang")
    with pytest.raises(CommitConflict):
        table._commit(
            "rewrite_data_files", added, None, snap["schema"],
            expected_parent=base, replace=True,
        )
    # nothing lost
    assert _urls(table.read()) == {"a", "z"}


def test_vacuum_reclaims_delete_files_after_rewrite(spark, table):
    table.append(_mk(spark, [("a", "en"), ("b", "en")]), part_col="lang")
    table.delete_rows(spark.createDataFrame([Row(url="a")]), ["url"])
    # live delete file survives vacuum while its snapshot is kept
    table.vacuum(keep_last=10, orphan_grace_seconds=0.0)
    assert table.delete_file_count() == 1
    assert _urls(table.read()) == {"b"}
    table.rewrite_data_files()
    stats = table.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert stats["files_deleted"] > 0
    assert _urls(table.read()) == {"b"}
    # the delete parquet itself is gone from disk
    leftover = [
        f for _, _, fs in os.walk(table.data_dir) for f in fs
        if f.endswith(".parquet")
    ]
    assert len(leftover) == table.file_count()


def test_compact_manifests_preserves_deletes(spark, table):
    """Manifest compaction keeps LIVE delete entries (their seq
    stamps untouched) and drops dangling ones after a rewrite."""
    table.append(_mk(spark, [("a", "en"), ("b", "en")]), part_col="lang")
    table.delete_rows(spark.createDataFrame([Row(url="a")]), ["url"])
    table.compact_manifests()
    assert _urls(table.read()) == {"b"}
    assert table.delete_file_count() == 1
    table.rewrite_data_files()
    table.compact_manifests()  # delete now dangling -> dropped
    assert table.delete_file_count() == 0
    assert _urls(table.read()) == {"b"}


def test_append_cas_race_does_not_lose_to_interleaved_delete(
    spark, table
):
    """The seq-stamp correctness case that forces per-attempt
    manifest rewrite: an append loses the publish CAS to a DELETE
    commit.  The retried append must commit with a seq ABOVE the
    delete's, so the delete cannot retroactively kill its rows."""
    import json as _json

    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    # forge the interleaved commit: a delete_rows snapshot at seq 1
    # (as if it won the race against our append's first attempt)
    table.delete_rows(spark.createDataFrame([Row(url="b")]), ["url"])
    # now append url=b: its rows must survive the seq-1 delete
    table.append(_mk(spark, [("b", "de")]), part_col="lang")
    assert _urls(table.read()) == {"a", "b"}
    # and the manifest stamps prove why: b's data seq > delete seq
    entries, dels, _ = table._resolve_full(table.current_snapshot())
    b_seq = max(e["seq"] for e in entries)
    assert all(d["seq"] < b_seq for d in dels)


# ------------------------------------------- maintenance job CLI


def test_maintain_table_job_lifecycle(spark, tmp_path):
    """jobs/maintain_table.py drives the full operational loop
    in-process: ingest -> takedown -> rewrite -> compact -> vacuum,
    each step's summary consistent with direct reads."""
    import argparse
    import importlib.util
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "maintain_table",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "jobs", "maintain_table.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    src = tmp_path / "pages_in"
    _mk(spark, [(f"u{i}", "en" if i % 2 else "de") for i in range(20)]
        ).write.parquet(str(src))
    td = tmp_path / "takedown"
    spark.createDataFrame([Row(url="u3"), Row(url="u4")]).write.parquet(
        str(td)
    )

    def go(**kw):
        ns = argparse.Namespace(
            root=str(tmp_path / "wh"), name="t", cores=None,
            ingest=None, part_col=None, takedown=None, key_cols="url",
            rewrite=False, max_rows_per_file=512_000,
            compact_manifests=False, vacuum=False, keep_last=1,
            grace=0.0, history=False,
        )
        for k, v in kw.items():
            setattr(ns, k, v)
        return mod.run(spark, ns)

    r1 = go(ingest=str(src), part_col="lang")
    assert r1["ingest"]["rows"] == 20 and r1["current_snapshot"] == 0
    # second ingest: more small files per partition
    go(ingest=str(src2 := str(src)), part_col="lang")
    r2 = go(takedown=str(td))
    assert r2["takedown"]["keys"] == 2
    assert r2["live_delete_files"] == 1
    t = SnapshotTable(spark, str(tmp_path / "wh"), "t")
    urls = {r["url"] for r in t.read().collect()}
    assert "u3" not in urls and "u4" not in urls
    n_before = t.file_count()
    r3 = go(rewrite=True, compact_manifests=True, history=True)
    assert r3["rewrite"]["files_after"] <= 2 < n_before
    assert r3["rewrite"]["delete_files_materialized"] == 1
    assert r3["live_delete_files"] == 0
    assert [h["operation"] for h in r3["history"]][-2:] == [
        "rewrite_data_files", "compact_manifests",
    ]
    assert {r["url"] for r in t.read().collect()} == urls
    r4 = go(vacuum=True, keep_last=1)
    assert r4["vacuum"]["files_deleted"] > 0
    assert {r["url"] for r in t.read().collect()} == urls


def test_vacuum_survives_crashed_predecessor(spark, table):
    """A vacuum killed mid-flight (expired snapshot file present but
    its manifests already gone — the pre-fix deletion order) must not
    brick later vacuums: unresolvable EXPIRED snapshots are skipped
    and their leftovers reclaimed as graced orphans."""
    table.append(_mk(spark, [("a", "en")]), part_col="lang")
    table.overwrite_partitions(_mk(spark, [("b", "en")]), part_col="lang")
    table.compact_manifests()  # snapshots 0/1's manifests now expired-only
    table.append(_mk(spark, [("c", "de")]), part_col="lang")
    # forge the crashed state: a predecessor vacuum(keep_last=2)
    # deleted snapshots 0/1's manifests (referenced by no kept
    # snapshot) but was killed before removing their s-files
    for seq in (0, 1):
        for m in table._load_snapshot(seq)["manifests"]:
            p = os.path.join(table.meta_dir, m)
            if os.path.exists(p):
                os.remove(p)
    stats = table.vacuum(keep_last=2, orphan_grace_seconds=0.0)
    assert stats["snapshots_expired"] == 2
    assert {r["url"] for r in table.read().collect()} == {"b", "c"}
    # and vacuum again: idempotent, no crash
    table.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert {r["url"] for r in table.read().collect()} == {"b", "c"}


# ------------------------------------- snapshot table as pages input


def test_filter_reads_pages_from_snaptable(spark, synth_dir, tmp_path):
    """The north-rule input shape: run_filter over a SnapshotTable of
    pages (auto-detected by its _meta dir) produces decisions
    identical to the plain-parquet run; a resumed run's scan opens
    ONLY pending buckets' files (manifest-layer pruning); and a
    merge-on-read takedown committed to the source table propagates
    to the next filter run."""
    from webfilter import pipeline
    from webfilter.partitioning import with_bucket

    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    t = SnapshotTable(spark, str(tmp_path), "pages_tbl")
    t.append(with_bucket(pages, 8), part_col="bucket_id")

    def snap(out):
        dec = spark.read.parquet(f"{out}/decisions.parquet")
        return {
            r["url"]: (r["keep"], r["text"], r["scrubbed_text"])
            for r in dec.collect()
        }

    pipeline.run_filter(
        spark, str(tmp_path / "pages_tbl"), str(tmp_path / "out_t"),
        n_buckets=8, run_id="t1",
    )
    pipeline.run_filter(
        spark, f"{synth_dir}/pages.parquet", str(tmp_path / "out_p"),
        n_buckets=8, run_id="p1",
    )
    assert snap(tmp_path / "out_t") == snap(tmp_path / "out_p")

    # manifest-layer pruning on resume: the pending-subset frame's
    # planned scan touches only those buckets' files
    pruned = pipeline.read_snaptable_pages(
        spark, str(tmp_path / "pages_tbl"), 8, [2, 5]
    )
    want = {
        os.path.join(t.dir, e["path"])
        for e in t._resolve(t.current_snapshot())[0]
        if e["partition"]["value"] in {"2", "5"}
    }
    import re as _re

    got = {
        _re.sub("^file:/+", "/", p) for p in pruned.inputFiles()
    }
    assert got == want and 0 < len(want) < t.file_count()
    # a DIFFERENT bucket contract (n_buckets=4 < max value) refuses
    # to prune but still reads everything
    full = pipeline.read_snaptable_pages(
        spark, str(tmp_path / "pages_tbl"), 4, [1]
    )
    assert len(full.inputFiles()) == t.file_count()

    # takedown propagation: delete one kept url at the SOURCE table,
    # re-filter from scratch -> it is gone from the new decisions
    victim = next(
        u for u, (k, _t, _s) in snap(tmp_path / "out_t").items() if k
    )
    t.delete_rows(
        spark.createDataFrame([Row(url=victim)]), ["url"]
    )
    pipeline.run_filter(
        spark, str(tmp_path / "pages_tbl"), str(tmp_path / "out_t2"),
        n_buckets=8, run_id="t2",
    )
    after = snap(tmp_path / "out_t2")
    assert victim not in after
    assert set(after) == set(snap(tmp_path / "out_t")) - {victim}
